"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023,
"Data Selection for Language Models via Importance Resampling").

Select raw-corpus documents that look like a small trusted target set
(Wikipedia, textbooks, a curated slice) by importance weighting under two
bag-of-hashed-n-grams unigram models:

1. :func:`fit_hashed_counts` — hashed (uni+bi)-gram bucket counts for a
   corpus, one table per corpus (target and raw). Fit once, reuse across
   shards — the tables are the model.
2. :func:`dsir_logratio` — per-bucket ``ln p_target(b) − ln p_raw(b)``
   with additive smoothing; a tiny (≤ buckets rows) self-describing table.
3. :func:`with_importance_weight` — per-document log importance weight
   ``Σ_grams logratio(bucket(gram))``; one explode + one broadcast join +
   one groupBy(id) — document text is never re-aggregated.
4. :func:`sample_by_importance` — Gumbel top-k resampling WITHOUT
   replacement (the paper's sampler): deterministic Gumbel noise from a
   salted key hash, then ``orderBy(key).limit(k)`` which Spark executes as
   TakeOrderedAndProject (per-partition top-k heaps + a k-row driver
   merge — no global sort, no full shuffle, scales to any corpus size).

Scale shape: model tables are bounded by ``buckets`` (default 65536 →
a few MiB), always broadcast; the only corpus-sized shuffle is the
per-document groupBy in scoring. All arithmetic is JVM-side.

``hash_family="md5_32"`` (tempo_spark.pipeline.dedup.md5_32) makes bucket
assignment bit-identical in any engine with md5() — the DuckDB oracle
replays the full fit → ratio → score chain; production keeps xxhash64.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tempo_spark.functions.sql import ident
from tempo_spark.pipeline.dedup import md5_32
from tempo_spark.pipeline.sampling import _key_hash
from tempo_spark.pipeline.text import _tokens_sql, tokens_col


def _gram_hash(gram: Column, hash_family: str) -> Column:
    if hash_family == "md5_32":
        return md5_32(gram)
    if hash_family == "xxhash64":
        return F.xxhash64(gram)
    raise ValueError(f"unknown hash_family {hash_family!r}")


def _gram_hash_sql(gram_sql: str, hash_family: str) -> str:
    """SQL text of :func:`_gram_hash` — the identical expression (r12
    one-parse plan build; md5_32's tree is pinned by the dedup suite)."""
    if hash_family == "md5_32":
        return (
            f"cast(conv(substring(md5(cast({gram_sql} as binary)), 1, 8),"
            " 16, 10) as long)"
        )
    if hash_family == "xxhash64":
        return f"xxhash64({gram_sql})"
    raise ValueError(f"unknown hash_family {hash_family!r}")


def _gram_rows(
    df: DataFrame,
    text_col: str,
    ngrams: tuple[int, ...],
    keep_cols: list[str],
) -> DataFrame:
    """THE single gram-construction path (fit and scoring share it, so the
    two feature spaces cannot drift): narrow (``keep_cols…``, ``__dsir_g``)
    rows — one row per (uni|bi)-gram occurrence of each document.
    Lowercased tokens (DSIR's feature space is case-folded).

    Grams are built by exploding bare POSITIONS over the carried token
    array and reading tokens post-Generate with ``element_at`` — row-level
    whole-stage codegen (building them inside a position ``transform`` ran
    interpreted; see the SCALE.md round-8 section). Position layout:
    ``1..n_uni`` index the unigrams, ``n_uni+1..n_uni+n_bi`` the bigram
    starts — gram strings identical to the old array build."""
    if not ngrams or any(n not in (1, 2) for n in ngrams):
        raise ValueError(f"ngrams must be a subset of (1, 2), got {ngrams!r}")
    # r12 one-parse plan build: each fragment parses once and builds the
    # SAME tree as the former Column chain (values pinned by the dsir
    # suite + the quality_score dsir gate tag)
    kq = [ident(c) for c in keep_cols]
    staged = df.selectExpr(
        *kq, f"{_tokens_sql(f'lower({ident(text_col)})')} AS __dsir_t"
    )
    n_uni = "size(__dsir_t)" if 1 in ngrams else "0"
    n_bi = (
        "greatest(size(__dsir_t) - 1, 0)" if 2 in ngrams else "0"
    )
    total = f"{n_uni} + {n_bi}"
    # explode_outer + post-Generate isNotNull (the pushdown trap — see
    # ngram_contamination); the CASE guard avoids sequence(1, 0)'s
    # DESCENDING [1, 0] on gram-less docs
    pos_rows = (
        staged.select(
            *keep_cols,
            F.col("__dsir_t"),
            F.expr(
                f"explode_outer(CASE WHEN {total} >= 1"
                f" THEN sequence(1, {total}) END)"
            ).alias("__dsir_pos"),
        )
        .where("__dsir_pos IS NOT NULL")
    )
    if 1 in ngrams and 2 in ngrams:
        gram = (
            "CASE WHEN __dsir_pos <= size(__dsir_t)"
            " THEN element_at(__dsir_t, __dsir_pos)"
            " ELSE concat_ws(' ',"
            " element_at(__dsir_t, __dsir_pos - size(__dsir_t)),"
            " element_at(__dsir_t, __dsir_pos - size(__dsir_t) + 1)) END"
        )
    elif 1 in ngrams:
        gram = "element_at(__dsir_t, __dsir_pos)"
    else:
        gram = (
            "concat_ws(' ', element_at(__dsir_t, __dsir_pos),"
            " element_at(__dsir_t, __dsir_pos + 1))"
        )
    return pos_rows.selectExpr(*kq, f"{gram} AS __dsir_g")


def _gram_bucket_rows(
    df: DataFrame,
    text_col: str,
    buckets: int,
    ngrams: tuple[int, ...],
    hash_family: str,
    keep_cols: list[str],
) -> DataFrame:
    """:func:`_gram_rows` bucketed by a literal modulus (fit side)."""
    if buckets <= 0:
        raise ValueError("buckets must be positive")
    return _gram_rows(df, text_col, ngrams, keep_cols).selectExpr(
        *[ident(c) for c in keep_cols],
        f"pmod({_gram_hash_sql('__dsir_g', hash_family)}, {int(buckets)})"
        " AS __b",
    )


def fit_hashed_counts(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = 65536,
    ngrams: tuple[int, ...] = (1, 2),
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Hashed-n-gram bucket counts for one corpus: ``(__b, __cnt, __m)``
    with the bucket count ``__m`` embedded on every row (self-describing,
    like the Bloom table — a model persisted to parquet carries what the
    ratio step needs to reject a mismatched pair). ONE map-side-combined
    groupBy; output ≤ ``buckets`` rows regardless of corpus size."""
    rows = _gram_bucket_rows(df, text_col, buckets, tuple(ngrams), hash_family, [])
    return rows.groupBy("__b").agg(F.count("*").alias("__cnt")).withColumn(
        "__m", F.lit(buckets).cast("long")
    )


def dsir_logratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket log importance ratio table ``(__b, __lr, __lr0, __m)``:

    ``__lr = ln((c_t(b)+α)/(T_t+α·m)) − ln((c_r(b)+α)/(T_r+α·m))``

    (additive smoothing over ``m`` buckets). ``__lr0`` — the ratio for a
    bucket unseen in BOTH corpora — rides on every row so scoring needs no
    second lookup table. Bucket-count mismatch between the two fits fails
    lazily via ``assert_true`` (a silent mismatch would score garbage).
    Both inputs are ≤ m rows; the join is tiny and broadcast downstream."""
    if alpha <= 0:
        raise ValueError("alpha must be positive (smoothing)")
    from pyspark.sql import Window

    t = target_counts.select(
        "__b", F.col("__cnt").alias("__ct"), F.col("__m").alias("__mt")
    )
    r = raw_counts.select(
        "__b", F.col("__cnt").alias("__cr"), F.col("__m").alias("__mr")
    )
    joined = t.join(r, "__b", "full_outer")
    # corpus totals via an empty-partition window over the joined table —
    # ONE evaluation of each fit lineage (an agg + crossJoin would run
    # every fit twice: once for the totals, once for the join side). The
    # single-partition window is fine: the table is ≤ buckets rows.
    # r12 one-parse plan build: the empty-partition window totals, the
    # assert_true fence and the smoothed log-ratio arithmetic parse in
    # single batches (same trees as the former Column chain; values
    # pinned by the dsir suite + the quality_score dsir gate tag)
    staged = joined.selectExpr(
        "__b", "__ct", "__cr",
        "coalesce(sum(__ct) OVER (), 0) AS __tt",
        "coalesce(sum(__cr) OVER (), 0) AS __tr",
        "max(__mt) OVER () AS __mt2",
        "max(__mr) OVER () AS __mr2",
    ).where(
        # .where keeps the check un-prunable: assert_true yields NULL when
        # the condition holds (raises at execution otherwise), so the
        # filter passes every row but cannot be column-pruned away.
        # A row missing on one side has a NULL __m there — compare the
        # window maxima, which see both sides
        "assert_true(__mt2 <=> __mr2,"
        " 'dsir_logratio: target/raw bucket counts differ') IS NULL"
    )
    a = repr(float(alpha)) + "D"
    denom_t = f"(__tt + {a} * __mt2)"
    denom_r = f"(__tr + {a} * __mt2)"  # __mt2 on BOTH sides (the
    # assert fence pins __mt2 <=> __mr2; the former Column form used
    # the target-side modulus for both denominators)
    lr = (
        f"ln((coalesce(__ct, 0) + {a}) / {denom_t})"
        f" - ln((coalesce(__cr, 0) + {a}) / {denom_r})"
    )
    lr0 = f"ln({a} / {denom_t}) - ln({a} / {denom_r})"
    return staged.selectExpr(
        "__b", f"{lr} AS __lr", f"{lr0} AS __lr0", "__mt2 AS __m"
    )


def with_importance_weight(
    df: DataFrame,
    ratio_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    ngrams: tuple[int, ...] = (1, 2),
    hash_family: str = "xxhash64",
    agg: str = "sum",
    out: str = "dsir_logweight",
    persist_model: bool = True,
) -> DataFrame:
    """Per-document DSIR log importance weight: ``agg`` over the document's
    hashed grams of the bucket's log ratio (``"sum"`` — the paper's weight,
    the log of the product-of-unigrams importance ratio — or ``"mean"`` for
    a length-normalized score). ``ngrams``/``hash_family`` must match the
    fit. Documents with no grams (null/empty text) get NULL.

    The bucket modulus comes from the ratio table itself (broadcast 1-row
    meta crossJoin → ``pmod`` by column), so a mismatched ``buckets``
    parameter cannot exist. Scale shape: explode to narrow (id, bucket)
    rows → broadcast join the ≤ m-row ratio table → ONE groupBy(id) →
    join back by id. Text never re-aggregates through the shuffle.

    The plan references ``ratio_df`` twice (meta row + the bucket join), so
    an UNPERSISTED fit lineage would run both corpus fits twice;
    ``persist_model=True`` (default) lazily caches the ≤ m-row table so
    the fit chain executes once (no eager action — materialized by the
    first downstream job; plan-pinned by a test). Pass ``False`` when the
    model is already a parquet scan or caller-managed cache."""
    if agg not in ("sum", "mean"):
        raise ValueError(f"agg must be 'sum' or 'mean', got {agg!r}")
    if out in df.columns:
        raise ValueError(f"output column {out!r} already present in input")
    if persist_model and not ratio_df.is_cached:
        ratio_df = ratio_df.persist()
    meta = ratio_df.agg(
        F.max("__m").alias("__m"), F.max("__lr0").alias("__lr0d")
    )
    # same narrow-rows builder as the fit (shared _gram_rows — the feature
    # spaces cannot drift), but bucketed with the modulus COLUMN from the
    # broadcast meta row so a mismatched ``buckets`` parameter cannot exist
    doc_rows = (
        _gram_rows(df, text_col, tuple(ngrams), [id_col])
        .crossJoin(F.broadcast(meta))
        .selectExpr(
            ident(id_col),
            f"pmod({_gram_hash_sql('__dsir_g', hash_family)}, __m) AS __b",
            "__lr0d",
        )
    )
    agg_sql = "sum" if agg == "sum" else "avg"
    per_doc = (
        doc_rows.join(
            F.broadcast(ratio_df.select("__b", "__lr")), "__b", "left"
        )
        .groupBy(id_col)
        .agg(F.expr(
            f"{agg_sql}(coalesce(__lr, __lr0d)) AS {ident(out)}"
        ))
        .selectExpr(f"{ident(id_col)} AS __dsir_id", ident(out))
    )
    return df.join(
        per_doc, F.col(id_col).eqNullSafe(F.col("__dsir_id")), "left"
    ).drop("__dsir_id")


def sample_by_importance(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    temperature: float = 1.0,
    salt: str = "dsir",
    hash_family: str = "xxhash64",
    keep_key: bool = False,
) -> DataFrame:
    """Gumbel top-k resampling without replacement: keep the ``k`` rows
    maximizing ``weight/temperature + Gumbel(0,1)`` — an exact sample from
    the softmax distribution over importance weights (the DSIR paper's
    resampling step). The Gumbel noise is deterministic (``−ln(−ln u)``
    with ``u`` from the salted key hash), so re-runs keep EXACTLY the same
    rows and ``salt`` gives independent re-draws.

    Executes as TakeOrderedAndProject (per-partition top-k heaps, k-row
    driver merge) — no global sort, no shuffle; ties broken by key hash
    then id. Null-weight rows (no grams) never sample. ``temperature → ∞``
    approaches uniform sampling; small temperatures approach argmax-k."""
    if k <= 0:
        raise ValueError("k must be positive")
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    h = _key_hash(F.col(id_col), salt, hash_family)
    m = 1 << 20
    # r12 one-parse plan build: the hash materializes once as __dsir_h
    # (it was an output column already) and the Gumbel-key arithmetic
    # parses in one fragment — same tree as the former Column chain,
    # with the hash expression evaluated via the carried column
    staged = df.where(F.col(weight_col).isNotNull()).select(
        "*", h.alias("__dsir_h")
    )
    key_sql = (
        f"cast({ident(weight_col)} as double) / {float(temperature)!r}D"
        f" + -ln(-ln((pmod(__dsir_h, {m}) + 0.5D) / {float(m)!r}D))"
    )
    out = (
        staged.selectExpr("*", f"{key_sql} AS __dsir_key")
        .orderBy(
            F.col("__dsir_key").desc(), F.col("__dsir_h").asc(), F.col(id_col).asc()
        )
        .limit(k)
        .drop("__dsir_h")
    )
    return out if keep_key else out.drop("__dsir_key")


def corpus_divergence(
    counts_a: DataFrame,
    counts_b: DataFrame,
    alpha: float = 1.0,
) -> DataFrame:
    """Distribution drift between two corpora over their hashed-n-gram
    bucket distributions (:func:`fit_hashed_counts` outputs): returns a
    1-row frame ``(kl_ab, kl_ba, js)`` in NATS.

    The drift monitor for a growing corpus: fit counts per
    shard/day/source (cheap, ≤ m rows each, persistable as parquet) and
    alert when ``js`` against the reference distribution moves. JS is
    symmetric and bounded by ln 2 — comparable across corpus pairs;
    the two KL directions localize WHICH side has novel mass.

    Robustness contracts (each review-pinned):

    - inputs are re-aggregated by bucket first, so APPENDED parquet
      models (duplicate ``__b`` rows — the shard-growth idiom) read back
      exactly like a merged fit instead of fanning the join out;
    - an EMPTY fit (a shard of all-null texts) is a uniform smoothed
      distribution, not a crash: its ``m`` comes from the other side; if
      BOTH fits are empty there is no bucket count anywhere and the call
      raises clearly;
    - bucket-count mismatch between two non-empty fits raises (the
      assertion rides inside the used ``m`` expression so pruning cannot
      skip it);
    - ONE pass: the totals/observed-count ride unpartitioned window
      aggregates over the ≤ 2m-row joined frame (the dsir_logratio
      idiom — an agg + crossJoin would re-execute both fit lineages).
      The windowed frame is one task of ≤ 2m rows, never corpus-sized.

    Smoothing is add-``alpha`` over the ``m`` buckets; the float sums are
    summation-order dependent (like any distributed float sum) — treat
    last-ulp differences across runs as noise, not drift.
    """
    if alpha <= 0:
        raise ValueError("alpha must be positive (smoothing)")
    from pyspark.sql import Window

    # append-safe: collapse duplicate bucket rows exactly like an add()
    a = counts_a.groupBy("__b").agg(
        F.sum("__cnt").alias("__ca"), F.max("__m").alias("__ma")
    )
    b = counts_b.groupBy("__b").agg(
        F.sum("__cnt").alias("__cb"), F.max("__m").alias("__mb")
    )
    joined = a.join(b, "__b", "full_outer")
    w = Window.partitionBy()
    ma = F.max("__ma").over(w)
    mb = F.max("__mb").over(w)
    # empty-side tolerance + mismatch assertion INSIDE the used m expr
    m_ok = (
        ma.isNull() | mb.isNull() | (ma == mb)
    )
    m_any = F.coalesce(ma, mb)
    mm = F.when(
        F.assert_true(
            m_ok & m_any.isNotNull(),
            F.lit(
                "corpus_divergence: bucket-count mismatch between fits, "
                "or both fits empty (no bucket count available)"
            ),
        ).isNull(),
        m_any,
    )
    staged = joined.select(
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
        mm.alias("__mm"),
        F.coalesce(F.sum("__ca").over(w), F.lit(0)).alias("__ta"),
        F.coalesce(F.sum("__cb").over(w), F.lit(0)).alias("__tb"),
        F.count(F.lit(1)).over(w).alias("__nobs"),
    )
    pa = (F.col("__ca") + F.lit(alpha)) / (
        F.col("__ta") + F.lit(alpha) * F.col("__mm")
    )
    pb = (F.col("__cb") + F.lit(alpha)) / (
        F.col("__tb") + F.lit(alpha) * F.col("__mm")
    )
    m2 = (pa + pb) / F.lit(2.0)
    per = staged.select(
        (pa * F.log(pa / pb)).alias("__kab"),
        (pb * F.log(pb / pa)).alias("__kba"),
        (
            pa / F.lit(2.0) * F.log(pa / m2)
            + pb / F.lit(2.0) * F.log(pb / m2)
        ).alias("__js"),
        "__mm", "__ta", "__tb", "__nobs",
    )
    # the (m - observed) buckets absent from BOTH frames still carry
    # smoothed mass pa0 = alpha/(Ta+alpha*m), pb0 = alpha/(Tb+alpha*m) —
    # NOT equal when the corpus totals differ, so their divergence terms
    # are a per-bucket CONSTANT added (m - n_obs) times
    pa0 = F.lit(alpha) / (F.first("__ta") + F.lit(alpha) * F.first("__mm"))
    pb0 = F.lit(alpha) / (F.first("__tb") + F.lit(alpha) * F.first("__mm"))
    m0 = (pa0 + pb0) / F.lit(2.0)
    n_unobs = (F.first("__mm") - F.first("__nobs")).cast("double")
    # zero joined rows = both fits empty: no per-row assertion ever ran,
    # so a row-count assertion rides the first output column (silent
    # all-NULL output would defeat a threshold alert)
    nonempty = F.assert_true(
        F.count(F.lit(1)) > 0,
        F.lit(
            "corpus_divergence: both fits empty (no bucket count "
            "available)"
        ),
    ).isNull()
    return per.agg(
        F.when(
            nonempty,
            F.sum("__kab") + n_unobs * pa0 * F.log(pa0 / pb0),
        ).alias("kl_ab"),
        (F.sum("__kba") + n_unobs * pb0 * F.log(pb0 / pa0)).alias("kl_ba"),
        (
            F.sum("__js")
            + n_unobs
            * (
                pa0 / F.lit(2.0) * F.log(pa0 / m0)
                + pb0 / F.lit(2.0) * F.log(pb0 / m0)
            )
        ).alias("js"),
    )
