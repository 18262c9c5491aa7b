"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for 100 TB corpora:

- **exact**: hash-groupBy on md5(text) — one shuffle on the digest, map-side
  combine keeps it near-linear.
- **MinHash + LSH**: shingle → k min-hashes (``xxhash64`` with per-seed
  salt, all JVM-native array expressions — no Python workers) → band/bucket
  → candidates only join within a bucket. Complexity ~O(n·k) + bucket-local
  joins instead of O(n²) all-pairs.
- **SimHash**: 64 per-bit weighted sums via map-side aggregation.
- **n-gram Jaccard**: exact pairwise similarity restricted to candidate
  pairs that share ≥1 (rare) shingle — the ubiquitous-shingle cutoff is the
  standard trick that keeps the co-occurrence join from exploding.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from tempo_spark.functions.sql import grid6, grid6_sql, ident


def md5_32(c: Column) -> Column:
    """Engine-neutral 32-bit hash: first 8 hex digits of md5, as a long.

    ~6× slower than ``xxhash64`` (string digest + hex parse), but every
    engine with an md5() reproduces it bit-identically — DuckDB:
    ``('0x' || substr(md5(s), 1, 8))::BIGINT``. Used by the
    ``hash_family="md5_32"`` variants so the full MinHash/SimHash pipelines
    are cross-engine value-checkable; production paths keep xxhash64."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast("long")


def _md5_32_seeded(h: Column, j: int) -> Column:
    """Seed-j re-hash of a base hash in the md5_32 family: md5 of the
    decimal-rendered hash plus ':{j}' (both engines render longs the same)."""
    return md5_32(F.concat(h.cast("string"), F.lit(f":{j}")))


# --------------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    keep: str = "min",
) -> DataFrame:
    """Keep one representative row per exact text duplicate group (digest of
    the content), chosen as the min/max id. Returns the input schema plus
    ``dup_count``.

    ONE shuffle: ``groupBy(digest).agg(min_by(struct(*cols), id))`` carries
    the whole winner row through the digest aggregation (partial map-side
    combine keeps only one candidate struct per digest per task), instead of
    the former groupBy + join-back which shuffled the frame twice. This is
    the engine's most-called operator at scale, so the second full-frame
    shuffle mattered."""
    if keep not in ("min", "max"):
        raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
    # null-safe ordering key: min_by/max_by SKIP rows whose key is null, so
    # a duplicate group whose every id is NULL would aggregate to a null
    # struct and emit a phantom all-null row (the pre-rewrite join-back
    # silently DROPPED such groups — also wrong). The isNull flag sorts
    # null ids after (min) / before (max) real ones, so a real id wins when
    # one exists and an all-null group still keeps a representative row.
    if keep == "min":
        pick, key = F.min_by, F.struct(
            F.col(id_col).isNull().alias("n"), F.col(id_col).alias("i")
        )
    else:
        pick, key = F.max_by, F.struct(
            F.col(id_col).isNotNull().alias("n"), F.col(id_col).alias("i")
        )
    rep = pick(F.struct(*[F.col(c) for c in df.columns]), key)
    # BINARY(16) digest, not the 32-char hex string: the min_by plans as
    # SortAggregate (struct value buffer), so the grouping key is sorted
    # twice over the full frame — half the key bytes, cheaper compares,
    # identical groups (r8; internal column, dropped before return)
    return (
        df.groupBy(F.unhex(F.md5(F.col(text_col))).alias("__digest"))
        .agg(rep.alias("__rep"), F.count("*").alias("dup_count"))
        .select("__rep.*", "dup_count")
    )


def content_digest(c: Column) -> Column:
    """Null-safe 128-bit content digest — THE single definition of
    "identical content" shared by every exact-dedup surface (batch
    ``dedup_against_corpus`` and ``streaming.dedup.streaming_exact_dedup``;
    ``exact_dedup``'s groupBy agrees because groupBy groups nulls anyway):
    md5(NULL) is NULL and NULL keys never join, which would silently exempt
    null-text rows, so null digests to a sentinel instead."""
    return F.coalesce(F.md5(c), F.lit("__null_text__"))


def _apply_dedup_mode(
    new_df: DataFrame, pairs: DataFrame, id_col: str, mode: str
) -> DataFrame:
    """Shared pairs → pairs/drop/flag tail for the *_against_corpus
    operators (text and embedding variants must never drift apart).
    Flagged ids are bounded by the shard size — always broadcastable."""
    if mode == "pairs":
        return pairs
    flagged = pairs.select(id_col).distinct()
    if mode == "drop":
        return new_df.join(F.broadcast(flagged), id_col, "left_anti")
    return new_df.join(
        F.broadcast(flagged.withColumn("is_near_dup", F.lit(True))), id_col, "left"
    ).withColumn("is_near_dup", F.coalesce(F.col("is_near_dup"), F.lit(False)))


def _bloom_positions(d: Column, m: int, k: int) -> Column:
    return F.array(*[F.pmod(F.xxhash64(d, F.lit(i)), F.lit(m)) for i in range(k)])


#: shiftleft's numBits arg is python-int-only in the Column API — the
#: per-row bit shift goes through parsed expressions instead. `div` (not
#: `/`): long `/` is DOUBLE division, exact only below 2^53 — the same
#: trap as the µs-timestamp gotcha
_BLOOM_WORD_MASK = [
    "__p div 64 as __w",
    "shiftleft(cast(1 as bigint), cast(__p % 64 as int)) as __m",
]


def build_content_bloom(
    corpus_df: DataFrame,
    text_col: str = "text",
    bloom_bits: int = 1 << 23,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Fold a corpus's content digests into a Bloom bitset as a DataFrame
    of ``(__w, __bits, __m_bits, __k)`` 64-bit words — built entirely
    with native ops (explode k bit positions → ``bit_or`` per word,
    map-side combined, so the shuffle is word-bounded, never
    corpus-row-bounded). Persist it (parquet: ≤ bloom_bits/64 rows) and
    hand it to ``dedup_against_corpus(strategy="bloom", bloom_df=...)``
    so every incoming shard skips the corpus-scan build — the
    amortization that makes the bloom strategy pay (see the measured
    single-shot numbers in that docstring).

    To GROW the filter as the corpus grows, append (or union) the bloom
    of each new corpus batch into the same table — the probe re-aggregates
    duplicate words with ``bit_or`` before joining, so overlapping word
    rows combine instead of corrupting membership. The ``__m_bits``/``__k``
    columns carry the build parameters; the probe asserts they match its
    own (a mismatch silently computes different bit positions and would
    otherwise disable dedup without any error). Size
    ``bloom_bits ≈ corpus_items × 10`` for ~1% fpp at the default 5
    hashes."""
    digest = content_digest(F.col(text_col)).alias("__digest")
    return (
        corpus_df.select(digest)
        .select(
            F.explode(
                _bloom_positions(F.col("__digest"), bloom_bits, bloom_hashes)
            ).alias("__p")
        )
        .selectExpr(*_BLOOM_WORD_MASK)
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__bits"))
        .select(
            "__w", "__bits",
            F.lit(bloom_bits).alias("__m_bits"),
            F.lit(bloom_hashes).alias("__k"),
        )
    )


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    strategy: str = "broadcast",
    bloom_bits: int = 1 << 23,
    bloom_hashes: int = 5,
    bloom_df: DataFrame | None = None,
) -> DataFrame:
    """Drop rows of ``new_df`` whose exact content already exists in
    ``corpus_df`` — the incremental form of exact dedup ("dedup today's
    crawl against the 100 TB corpus").

    ``strategy="broadcast"`` (default) is the scale path when the new shard
    is much smaller than the corpus — the usual case. The corpus is SCANNED
    once but never shuffled:

    1. broadcast the shard's distinct digests to every corpus scan task;
    2. a broadcast LEFT-SEMI join emits only corpus digests that collide
       (bounded by the shard size, however big the corpus is);
    3. a broadcast LEFT-ANTI join removes those digests from the shard.

    The only hash shuffles are the two shard-sized ``distinct``s; the
    corpus subtree is scan → project → broadcast-join, so 100 TB flows
    map-side with predicate/column pruning intact (tests pin the exchange
    count). ``strategy="shuffle"`` is the plain sort-merge LEFT-ANTI join
    for when the shard itself is too large to broadcast twice.

    ``strategy="bloom"`` covers the remaining quadrant — shard too big to
    broadcast AND the filter AMORTIZED across many shards: the corpus
    digests fold into a Bloom bitset built entirely in DataFrame ops
    (``build_content_bloom`` — explode k bit positions → ``bit_or`` per
    64-bit word, map-side combined), the word table broadcasts to the
    shard (size m ≈ items × 10 for ~1% fpp at k=5), and only
    bloom-positive digests (true hits + false positives) go through the
    exact broadcast verify; no false negatives, so definitely-new rows
    never re-touch the corpus. Measured single-shot (scale_probe
    --corpus, 32M rows): bloom 104 s vs broadcast 8.7 s / shuffle 25.6 s
    — the build's two corpus passes dominate, so single-shot bloom LOSES;
    pass a persisted ``bloom_df`` (built once, reused per daily shard) to
    skip the build and make the strategy pay off.
    """
    _digest = content_digest(F.col(text_col))
    digest = _digest.alias("__digest")
    nd = new_df.withColumn("__digest", _digest)
    if strategy == "shuffle":
        corpus_digests = corpus_df.select(digest).distinct()
        return nd.join(corpus_digests, "__digest", "left_anti").drop("__digest")
    if strategy == "bloom":
        m, k = bloom_bits, bloom_hashes
        if m < 64 or k < 1:
            raise ValueError("bloom_bits must be >= 64 and bloom_hashes >= 1")
        # r12 one-parse plan build: the parameter fence, the k position
        # hashes and the hit test parse as single fragments (same trees
        # as the former Column chain; values pinned by the bloom suite +
        # the dedup_exact bloom_vs_corpus gate tag)
        m_sql = f"{m}L" if m > 2**31 - 1 else str(m)
        if bloom_df is None:
            words = build_content_bloom(corpus_df, text_col, m, k).select(
                "__w", "__bits"
            )
        else:
            # a prebuilt (possibly appended/unioned) filter: assert its
            # build parameters match the probe's (a mismatch computes
            # different bit positions and silently disables dedup —
            # assert_true raises at execution, keeping the check lazy),
            # then re-aggregate duplicate word rows (the append growth
            # path) so overlapping words COMBINE instead of fanning the
            # probe join out to stale copies
            words = (
                bloom_df.where(
                    f"assert_true(__m_bits = {m_sql} AND __k = {k},"
                    " 'bloom_df was built with different bloom_bits/"
                    f"bloom_hashes than the probe ({m}, {k})') IS NULL"
                )
                .groupBy("__w")
                .agg(F.expr("bit_or(__bits) AS __bits"))
            )
        pos_sql = ", ".join(
            f"pmod(xxhash64(__digest, {i}), {m_sql})" for i in range(k)
        )
        probe = (
            nd.select("__digest")
            .distinct()
            .selectExpr(
                "__digest", f"explode(array({pos_sql})) AS __p"
            )
            .selectExpr("__digest", *_BLOOM_WORD_MASK)
        )
        hit = probe.join(F.broadcast(words), "__w", "left").selectExpr(
            "*",
            "coalesce((__bits & __m) = __m, false) AS __hit",
        )
        candidates = (
            hit.groupBy("__digest")
            .agg(F.min("__hit").alias("__maybe"))  # all k bits must be set
            .where("__maybe")
            .select("__digest")
        )
        confirmed = (
            corpus_df.select(digest)
            .join(F.broadcast(candidates), "__digest", "left_semi")
            .distinct()
        )
        return nd.join(F.broadcast(confirmed), "__digest", "left_anti").drop("__digest")
    if strategy != "broadcast":
        raise ValueError(f"unknown strategy {strategy!r}")
    new_digests = nd.select("__digest").distinct()
    hits = (
        corpus_df.select(digest)
        .join(F.broadcast(new_digests), "__digest", "left_semi")
        .distinct()
    )
    return nd.join(F.broadcast(hits), "__digest", "left_anti").drop("__digest")


def ngram_contamination(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Benchmark contamination check: find corpus documents sharing any word
    n-gram with a benchmark/test set (the GPT-3-style 13-gram decontamination
    filter a pretraining pipeline runs before training).

    Same scale shape as ``dedup_against_corpus``: the benchmark's distinct
    shingle hashes broadcast into an inner join against the EXPLODED corpus
    shingles, so the corpus is scanned once and only the MATCHING
    (doc, shingle) rows — rare by construction — reach the per-doc count
    shuffle. Docs shorter than ``n`` words contribute their whole
    (whitespace-normalized) text as one shingle, i.e. an exact-match check.

    Returns only the contaminated docs: ``(id_col, contam_ngrams, n_ngrams,
    contam_frac)`` where ``contam_frac`` = hit fraction of the doc's
    distinct n-grams (hardened 6-decimal rounding). Clean docs are absent —
    left-anti join on the result to drop, or left join for flags.
    """
    sh = "__contam_sh"
    corp = with_hashed_shingles(
        corpus_df.select(id_col, text_col), text_col, sh,
        k=n, use_words=True, hash_family=hash_family,
    ).withColumn("__n_sh", F.size(F.col(sh)))
    bench = (
        with_hashed_shingles(
            benchmark_df.select(text_col), text_col, sh,
            k=n, use_words=True, hash_family=hash_family,
        )
        .select(F.explode_outer(F.col(sh)).alias("__h"))
        .where(F.col("__h").isNotNull())
        .distinct()
    )
    # explode_OUTER on purpose: a plain explode implies a pushed-down
    # `size(arr) > 0` filter, and predicate pushdown substitutes the whole
    # shingle expression into it — re-inlining `transform(split(text))`
    # inside every element_at and resurrecting the O(tokens²) blowup the
    # hoisted columns exist to prevent (measured 16 s vs 2 s at sf0.1).
    # The post-Generate null filter cannot push below the Generate.
    exploded = corp.select(
        F.col(id_col), F.col("__n_sh"), F.explode_outer(F.col(sh)).alias("__h")
    ).where(F.col("__h").isNotNull())
    hits = (
        exploded.join(F.broadcast(bench), "__h", "inner")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("contam_ngrams"),
            F.first("__n_sh").alias("n_ngrams"),
        )
    )
    frac = F.col("contam_ngrams") / F.col("n_ngrams")
    return hits.select(
        id_col,
        "contam_ngrams",
        "n_ngrams",
        grid6(frac).alias("contam_frac"),
    )


# ----------------------------------------------------------------- shingles


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-shingles as an array expression (JVM-native):
    ``transform(sequence(1, len-k+1), i -> substr(text, i, k))``."""
    n = F.length(text)
    return F.when(n < k, F.array(text)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: text.substr(i, F.lit(k)),
            )
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles (n-grams joined by a space)."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - F.lit(k)),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            )
        )
    )


def with_hashed_shingles(
    df: DataFrame,
    text_col: str,
    out: str,
    k: int = 5,
    use_words: bool = False,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Attach ``array<bigint>`` of the row's DISTINCT hashed k-shingles.

    The scale-critical detail is what does NOT get recomputed: higher-order
    function lambdas are interpreted and not CSE'd, so an expression like
    ``transform(seq, i -> f(split(text), i))`` re-runs the split for every
    element — O(tokens²) per row. Here the token array and its per-token
    hashes are hoisted into intermediate columns (CollapseProject keeps
    multiply-referenced non-cheap aliases materialized), and each word
    shingle hash is just ``xxhash64`` of k consecutive token hashes —
    fixed-width longs, no per-element string building.

    ``hash_family="md5_32"`` hashes the shingle STRINGS with the
    engine-neutral md5_32 (slower — string shingles are materialized — but
    DuckDB-replayable; used by the oracle-gated entries)."""
    if hash_family == "md5_32":
        sh = (
            word_shingles(F.col(text_col), k)
            if use_words
            else char_shingles(F.col(text_col), k)
        )
        return df.withColumn(out, F.array_distinct(F.transform(sh, md5_32)))
    if not use_words:
        return df.withColumn(
            out,
            F.array_distinct(
                F.transform(
                    char_shingles(F.col(text_col), k), lambda s: F.xxhash64(s)
                )
            ),
        )
    toks_c, th_c = "__tempo_toks", "__tempo_tokh"
    # one parsed expression per staging column (r12 plan-build
    # discipline; the Column/HOF form cost ~0.3 s of driver py4j per
    # call and this builder runs 2-3× per dedup pipeline) — same tree,
    # bit-identical signatures (minhash oracle entries re-verified)
    tq = ident(text_col)
    shingle_at = "xxhash64(" + ", ".join(
        f"element_at({th_c}, i + {j})" for j in range(1, k + 1)
    ) + ")"
    hashes = (
        f"CASE WHEN size({th_c}) < {k} THEN "
        f"array(xxhash64(concat_ws(' ', {toks_c}))) "
        f"ELSE transform(sequence(0, size({th_c}) - {k}), i -> {shingle_at}) "
        f"END"
    )
    return (
        df.selectExpr("*", f"split(trim({tq}), '\\\\s+') AS {toks_c}")
        .selectExpr("*", f"transform({toks_c}, t -> xxhash64(t)) AS {th_c}")
        .selectExpr("*", f"array_distinct({hashes}) AS {ident(out)}")
        .drop(toks_c, th_c)
    )


# ------------------------------------------------------------------ minhash


def _signature_from_hashes(
    hashed: Column | str, num_hashes: int, hash_family: str = "xxhash64"
) -> Column:
    """k-min signature from a (materialized) array of base hashes: seed j's
    hash of a shingle is ``xxhash64(base_hash, j)`` — a fixed-width long
    re-hash, so each shingle pays ONE variable-length string hash plus k
    cheap 16-byte hashes (and no long overflow under ANSI mode, unlike
    affine multiply families). md5_32 family: seeded md5 re-hash instead.

    Pass a column NAME for the parsed-SQL fast path: k Column-API
    ``array_min(transform(...))`` chains cost ~25 ms of driver py4j each at
    plan-build (the simhash lesson — build latency is a real scale axis),
    while one ``F.expr`` parse of the same k expressions is near-free and
    bit-identical (a pytest pins equality per family). A nested
    transform-over-sequence(0,k-1) would also build fast but executes ~4×
    SLOWER: the variable seed defeats per-seed constant folding."""
    if isinstance(hashed, str):
        col_sql = ident(hashed)
        if hash_family == "md5_32":
            items = [
                f"array_min(transform({col_sql}, h -> "
                f"cast(conv(substring(md5(cast(concat(cast(h as string), ':{j}') "
                f"as binary)), 1, 8), 16, 10) as bigint)))"
                for j in range(num_hashes)
            ]
        elif hash_family == "xxhash64":
            items = [
                f"array_min(transform({col_sql}, h -> xxhash64(h, {j})))"
                for j in range(num_hashes)
            ]
        else:
            raise ValueError(f"unknown hash_family {hash_family!r}")
        return F.expr("array(" + ", ".join(items) + ")")

    def seeded(j: int):
        # single-parameter lambda: pyspark introspects lambda arity, so
        # closure constants must not appear as default parameters
        if hash_family == "md5_32":
            return lambda h: _md5_32_seeded(h, j)
        return lambda h: F.xxhash64(h, F.lit(j))

    return F.array(
        *[F.array_min(F.transform(hashed, seeded(j))) for j in range(num_hashes)]
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as ``array<bigint>``. NB: when composing into a
    DataFrame prefer ``with_minhash``, which materializes the base hash
    array so it is computed once, not once per hash seed."""
    return _signature_from_hashes(
        F.transform(shingles, lambda s: F.xxhash64(s)), num_hashes
    )


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "minhash",
    num_hashes: int = 16,
    shingle_k: int = 5,
    use_words: bool = False,
    keep_hashed_shingles: bool = False,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Attach a MinHash signature column. Shingling + the base hash are
    materialized ONCE (inlining either into the num_hashes min expressions
    would recompute them per seed). With ``keep_hashed_shingles`` the
    distinct hashed-shingle array survives as ``__tempo_sh_hashed`` so a
    downstream Jaccard verify can reuse it."""
    tmp = "__tempo_sh_hashed"
    result = with_hashed_shingles(df, text_col, tmp, shingle_k, use_words, hash_family)
    result = result.withColumn(
        out, _signature_from_hashes(tmp, num_hashes, hash_family)
    )
    return result if keep_hashed_shingles else result.drop(tmp)


def band_key_array(
    sig: str, bands: int, hash_family: str = "xxhash64"
) -> Column:
    """Array of per-band bucket keys for the MinHash signature column
    named ``sig``: band b's key is the hash (or, for md5_32, the raw
    comma-join — equality-equivalent and replayable) of the signature
    slice belonging to that band.

    The ``bands`` keys render as ONE ``F.expr`` parse with the band index
    UNROLLED into an ``array(key_0, …)`` — bands is a small static
    constant, and a transform-over-sequence form would both cost ~150
    driver py4j trips to build and run the slice arithmetic through the
    interpreted HOF evaluator per row (the repo-wide unroll rule). Keys
    are pinned per family by goldens in tests/test_pipeline.py."""
    q = ident(sig)
    rpb = f"(size({q}) / {bands})"
    items = []
    for b in range(bands):
        joined = (
            f"concat_ws(',', slice({q}, "
            f"cast(({b} * {rpb}) as int) + 1, cast({rpb} as int)))"
        )
        items.append(
            joined if hash_family == "md5_32" else f"xxhash64({joined})"
        )
    return F.expr("array(" + ", ".join(items) + ")")


def _bucket_capped_self_join(
    banded: DataFrame,
    bucket_cols,
    id_col: str,
    max_bucket_size: Optional[int],
    make_pairs,
) -> DataFrame:
    """Bucket-local self-join with a hot-bucket guard, shared by the three
    LSH candidate generators (MinHash bands, SimHash chunks, hyperplane
    buckets).

    Without a cap, a degenerate corpus (millions of empty / boilerplate-
    identical docs hashing to one bucket) makes a single bucket's self-join
    quadratic — the first pathological input a real 100 TB pipeline meets.
    With ``max_bucket_size=cap``, buckets above the cap are rewired from
    all-pairs to a STAR on the bucket's min id: N members emit N-1
    (rep, member) edges instead of N(N-1)/2 pairs, so candidate volume is
    bounded by O(rows) however skewed the bucketing. Downstream
    connected-components still merges a fully-duplicated group (the star is
    connected); what degrades is pairwise recall WITHIN a hot bucket — two
    members similar to each other but not to the representative surface
    only via other (non-hot) buckets. That trade is explicit, not silent:
    the cap is opt-in and documented at every call site.

    Plan shape: ONE map-side-combined groupBy (each task contributes one
    row per bucket key no matter the skew) finds hot buckets and carries
    each one's representative ROW (min-id payload — signatures, vectors,
    whatever the verify step needs) via ``min_by``; the tiny filtered
    result broadcasts ONCE into a rep-marking left join, splitting
    ``banded`` into cold rows and hot rows that already carry their star
    pair — the hot half is never shuffled, nothing is cached, and the
    banded subtree is not re-evaluated per consumer of the aggregate.
    ``make_pairs(joined)`` receives the a/b-aliased join
    (condition: bucket equality + ``a.id < b.id``) and projects pair
    columns; the min-id representative guarantees ``rep < member`` so the
    star side needs no extra ordering logic.
    """

    def join_ab(a_df: DataFrame, b_df: DataFrame, broadcast_a: bool = False):
        a, b = a_df.alias("a"), b_df.alias("b")
        left = F.broadcast(a) if broadcast_a else a
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
        cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        return make_pairs(left.join(b, on=cond))

    if max_bucket_size is None:
        return join_ab(banded, banded)
    if max_bucket_size < 1:
        raise ValueError(f"max_bucket_size must be >= 1, got {max_bucket_size}")
    keys = list(bucket_cols)
    # ONE aggregate over `banded` finds hot buckets AND carries each one's
    # representative ROW (min-id payload) through min_by — the naive
    # hot-keys / rep-ids / rep-rows formulation re-evaluated the banded
    # subtree (for minhash, the full per-row signature computation) ~6×.
    # The tiny filtered aggregate broadcasts ONCE into a left join that
    # marks every row with its bucket's rep struct (null ⇒ cold bucket);
    # the star side then needs NO second join — each hot row already
    # carries its (rep, self) pair as two struct columns named a/b, and
    # ``make_pairs``'s ``F.col("a.x")`` references resolve as struct FIELD
    # access exactly as they would on join aliases. Nothing is persisted
    # (a lazily-cached frame in a library function would leak for the
    # session's lifetime); `banded` evaluates ~3× — the agg, the cold
    # self-join (both sides share one ReusedExchange), and the star scan.
    hot_agg = (
        banded.groupBy(*keys)
        .agg(
            F.count("*").alias("__bn"),
            F.min_by(
                F.struct(*[F.col(c) for c in banded.columns]), F.col(id_col)
            ).alias("__rep"),
        )
        .where(F.col("__bn") > max_bucket_size)
        .select(
            *[F.col(k).alias(f"__hk_{i}") for i, k in enumerate(keys)], "__rep"
        )
    )
    from functools import reduce

    marked = banded.join(
        F.broadcast(hot_agg),
        on=reduce(
            lambda a, b: a & b,
            [F.col(k).eqNullSafe(F.col(f"__hk_{i}")) for i, k in enumerate(keys)],
        ),
        how="left",
    )
    cold = marked.where(F.col("__rep").isNull()).select(*banded.columns)
    star_src = (
        marked.where(F.col("__rep").isNotNull())
        .select(
            F.col("__rep").alias("a"),
            F.struct(*[F.col(c) for c in banded.columns]).alias("b"),
        )
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    return join_ab(cold, cold).unionByName(make_pairs(star_src))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    minhash_col: str = "minhash",
    bands: int = 4,
    hash_family: str = "xxhash64",
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, hash each
    band, and emit candidate pairs that collide in ≥1 band.

    Plan: explode to (band_id, band_hash) → self-join *within* the bucket
    key — the join key (band_id, band_hash) means only near-duplicates
    co-locate, so the shuffle is proportional to candidates, not n².
    Returns distinct (id_a, id_b) with id_a < id_b.

    md5_32 family: the band key stays the raw comma-joined signature slice
    (a string) — equality-equivalent to hashing it, and DuckDB-replayable.

    ``max_bucket_size`` bounds hot buckets via the star rewiring of
    ``_bucket_capped_self_join`` — candidate volume O(rows) on degenerate
    corpora, at the cost of pairwise recall inside capped buckets.
    """
    # posexplode_OUTER + post-Generate null filter: a plain posexplode
    # implies a `size(arr) > 0` filter that predicate-pushdown inlines with
    # the FULL signature expression substituted for the column alias —
    # recomputing the per-band slices of the (hoisted) minhash chain in the
    # filter. The outer variant adds no filter; nulls drop after the
    # Generate, where nothing can push down.
    banded = df.select(
        F.col(id_col),
        F.posexplode_outer(
            band_key_array(minhash_col, bands, hash_family)
        ).alias("band_id", "band_hash"),
    ).where(F.col("band_hash").isNotNull())
    pairs = _bucket_capped_self_join(
        banded,
        ("band_id", "band_hash"),
        id_col,
        max_bucket_size,
        lambda joined: joined.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        ),
    ).distinct()
    return pairs


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.7,
    use_words: bool = False,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Exact Jaccard on candidate pairs only (array_intersect/union on the
    HASHED shingle sets — long compares; collisions perturb Jaccard by
    ~2^-64). The joins hash-partition on ids — candidate-proportional."""
    # only docs that appear in some candidate pair need shingling
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shingled = with_hashed_shingles(
        df.join(cand_ids, id_col, "left_semi"), text_col, "__sh",
        shingle_k, use_words, hash_family,
    ).select(F.col(id_col), F.col("__sh"))
    out = (
        candidates.join(
            shingled.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")),
            "id_a",
        )
        .join(
            shingled.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", grid6("jaccard").alias("jaccard"))
    )
    return out


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.7,
    use_words: bool = False,
    hash_family: str = "xxhash64",
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → Jaccard verify.
    Returns verified duplicate pairs (id_a < id_b, jaccard).

    Shingle choice is the scale lever: char shingles on low-entropy corpora
    (shared vocabulary) have a high baseline Jaccard, which degrades LSH
    toward all-pairs; word shingles (``use_words=True``) stay discriminative.

    Verification compares HASHED shingle sets — the intersect/union compares
    longs instead of strings (hash collisions perturb Jaccard by ~2^-64).

    No caching: a 100 TB corpus's shingle arrays cannot be pinned in
    executor memory, so the plan is structured to stay cheap fully lazy —
    the candidate self-join is consumed exactly once (chained joins), and
    the verify side re-reads only raw text, shingling AFTER the candidate
    join (candidate-sized work), which AQE turns into broadcast joins
    against the (small) candidate set: linear scans, no corpus-wide
    shuffle, nothing persisted."""
    base = df.select(F.col(id_col), F.col(text_col))
    sigs = with_minhash(
        base, text_col, "minhash", num_hashes, shingle_k, use_words,
        hash_family=hash_family,
    )
    cands = minhash_lsh_candidates(
        sigs.select(F.col(id_col), F.col("minhash")), id_col, "minhash", bands,
        hash_family, max_bucket_size=max_bucket_size,
    )
    # melt the pairs so the corpus is scanned ONCE for verification: each
    # candidate id picks up its TEXT in a single (broadcast) join, then the
    # pair reassembles in a candidate-sized shuffle. Shingles are computed
    # AFTER the join (r10): a projection below the join evaluates the
    # shingle/tokenize chain for EVERY corpus row only to discard the
    # non-candidates — this way verify work is O(candidate occurrences),
    # not O(corpus), the dominant term whenever candidates ≪ corpus (the
    # normal dedup regime; tokenize+hash is the priciest per-row family in
    # this repo). Trade-off, measured warmed at 80k docs: a doc in p pairs
    # shingles p times, so a pathologically duplicated corpus (every doc in
    # ~16 pairs) pays ~25% over the corpus-wide form — bounded by
    # bands × max_bucket_size, and the right fix there is the star cap.
    # parsed-SQL construction (r13): the same trees as the former Column
    # chain (explode/min_by/max_by/size-ratio/floor-round), batched into a
    # handful of parses — the Column form cost ~190 driver py4j trips per
    # build and this verify tail rides in four bench rows
    idq = ident(id_col)
    melted = cands.selectExpr(
        "id_a", "id_b", f"explode(array(id_a, id_b)) AS {idq}"
    )
    pair_docs = with_hashed_shingles(
        melted.join(base, id_col),
        text_col, "__sh", shingle_k, use_words, hash_family,
    )
    per_pair = (
        pair_docs
        .groupBy("id_a", "id_b")
        .agg(
            F.expr(f"min_by(__sh, {idq} = id_b)").alias("__sh_a"),
            F.expr(f"max_by(__sh, {idq} = id_b)").alias("__sh_b"),
        )
    )
    out = (
        per_pair.selectExpr(
            "id_a", "id_b",
            "(size(array_intersect(__sh_a, __sh_b)) / "
            "size(array_union(__sh_a, __sh_b))) AS jaccard",
        )
        .where(F.col("jaccard") >= threshold)
        .selectExpr(
            "id_a", "id_b",
            f"{grid6_sql('jaccard')} AS jaccard",
        )
    )
    return out


def near_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.7,
    use_words: bool = False,
    hash_family: str = "xxhash64",
    mode: str = "drop",
    broadcast_shard: bool = True,
) -> DataFrame:
    """Incremental NEAR-dup dedup: find rows of ``new_df`` that are
    near-duplicates (Jaccard >= ``threshold``) of ANY ``corpus_df`` row —
    the fuzzy companion to ``dedup_against_corpus`` ("is today's crawl a
    paraphrase of something already in the 100 TB corpus?"), so adding a
    shard never re-near-dedups the whole corpus.

    Scale shape — the corpus is scanned ONCE and never shuffled until only
    colliding rows remain:

    1. the shard's (band_id, band_hash) LSH keys — ``bands`` narrow rows per
       shard doc — broadcast to every corpus scan task;
    2. the corpus pipeline is scan → shingle/minhash → band-explode →
       broadcast INNER join, all in one pipelined stage; the hashed-shingle
       array (already computed for the signature) rides along, so the rare
       surviving candidates carry their shingle sets out of the scan and no
       second corpus pass is needed;
    3. candidates dedupe per (new, corpus) pair and verify with exact
       Jaccard on hashed shingle sets — both shuffles are candidate-sized.

    ``mode``: ``"pairs"`` returns verified ``(<id_col>, corpus_id,
    jaccard)`` pairs; ``"drop"`` (default) returns ``new_df`` minus flagged
    rows; ``"flag"`` returns ``new_df`` plus ``is_near_dup``.

    Both sides must share ``id_col``/``text_col`` names; shingle/minhash
    parameters must match whatever the corpus was deduped with or recall
    drops silently. ``broadcast_shard=False`` swaps the verify-side
    broadcast (shard shingle ARRAYS — the only piece whose broadcast cost
    grows with shard text size) for a shard-sized hash join; the band-key
    broadcast stays (3 narrow columns, always cheap).
    """
    if mode not in ("pairs", "drop", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    shard_sig = with_minhash(
        new_df.select(F.col(id_col), F.col(text_col)), text_col, "__mh",
        num_hashes, shingle_k, use_words, keep_hashed_shingles=True,
        hash_family=hash_family,
    ).select(F.col(id_col).alias("__new_id"), F.col("__mh"),
             F.col("__tempo_sh_hashed").alias("__sh_a"))
    # posexplode_OUTER + post-Generate filter: plain posexplode implies a
    # pushed-down size(arr)>0 filter that re-inlines the full minhash chain
    # (see minhash_lsh_candidates)
    shard_banded = shard_sig.select(
        "__new_id",
        F.posexplode_outer(band_key_array("__mh", bands, hash_family))
        .alias("band_id", "band_hash"),
    ).where(F.col("band_hash").isNotNull())
    corpus_sig = with_minhash(
        corpus_df.select(F.col(id_col), F.col(text_col)), text_col, "__mh",
        num_hashes, shingle_k, use_words, keep_hashed_shingles=True,
        hash_family=hash_family,
    ).select(F.col(id_col).alias("corpus_id"), F.col("__mh"),
             F.col("__tempo_sh_hashed").alias("__sh_b"))
    corpus_banded = corpus_sig.select(
        "corpus_id", "__sh_b",
        F.posexplode_outer(band_key_array("__mh", bands, hash_family))
        .alias("band_id", "band_hash"),
    ).where(F.col("band_hash").isNotNull())
    cand = (
        corpus_banded.join(
            F.broadcast(shard_banded), ["band_id", "band_hash"], "inner"
        )
        .select("__new_id", "corpus_id", "__sh_b")
        .dropDuplicates(["__new_id", "corpus_id"])
    )
    shard_shingles = shard_sig.select("__new_id", "__sh_a")
    if broadcast_shard:
        shard_shingles = F.broadcast(shard_shingles)
    pairs = (
        cand.join(shard_shingles, "__new_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("__new_id").alias(id_col),
            "corpus_id",
            grid6("jaccard").alias("jaccard"),
        )
    )
    return _apply_dedup_mode(new_df, pairs, id_col, mode)


# ------------------------------------------------------------------ simhash


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "simhash",
    bits: int = 64,
    id_col: Optional[str] = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash: per token ``xxhash64``; per bit, sum +1/-1 across tokens;
    the fingerprint sets bits with positive sums. ``hash_family="md5_32"``
    (pair with ``bits=32``) uses the engine-neutral token hash so DuckDB
    can replay the fingerprint bit-exactly.

    Two physical strategies:
    - ``id_col`` given (preferred at scale): explode tokens → 64 codegen'd
      conditional-sum aggregates (map-side combine) → recombine bits → join
      back on the id. ~2.5× faster than the fold and stays in whole-stage
      codegen.
    - no ``id_col``: a per-row array-accumulator fold (interpreted HOF) —
      no shuffle, works on id-less frames.
    """
    tok_hash = md5_32 if hash_family == "md5_32" else F.xxhash64

    def _bit_val(i: int) -> int:
        # bit 63 is the sign bit in a signed 64-bit long
        return (1 << i) if i < 63 else -(1 << 63)

    # the per-bit aggregates and the fingerprint recombine are built as
    # PARSED SQL STRINGS, not Column-API compositions: 64 sums × ~6 py4j
    # round-trips each cost ~1.5 s of driver time PER PLAN BUILD (measured
    # at any SF — it is pure plan-construction overhead); one parser call
    # per expression brings that to ~0.2 s with a bit-identical plan
    _fingerprint_sql = " | ".join(
        f"(CASE WHEN __b{i} > 0 THEN CAST({_bit_val(i)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )

    if id_col is not None:
        toks = df.select(
            F.col(id_col),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
        ).withColumn("__h", tok_hash(F.col("__t")))
        bit_aggs = [
            F.expr(
                f"sum(CASE WHEN shiftright(__h, {i}) & 1 = 1 THEN 1 ELSE -1 END)"
                f" AS __b{i}"
            )
            for i in range(bits)
        ]
        sig = (
            toks.groupBy(id_col)
            .agg(*bit_aggs)
            .select(F.col(id_col), F.expr(_fingerprint_sql).alias(out))
        )
        return df.join(sig, id_col, "left").na.fill({out: 0})

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    th = F.transform(toks, lambda t: tok_hash(t))
    zero = F.array(*[F.lit(0) for _ in range(bits)])
    bit_sums = F.aggregate(
        th,
        zero,
        lambda acc, h: F.array(
            *[
                acc[i]
                + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for i in range(bits)
            ]
        ),
    )
    tmp = "__simhash_bits"
    with_bits = df.withColumn(tmp, bit_sums)
    fingerprint = F.expr(
        " | ".join(
            f"(CASE WHEN {tmp}[{i}] > 0 THEN CAST({_bit_val(i)} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
    )
    return with_bits.withColumn(out, fingerprint).drop(tmp)


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 64,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash: bucket on 4 × (bits/4)-wide
    chunks (a pair within Hamming distance 3 must agree on ≥1 chunk), then
    verify the exact Hamming distance with ``bit_count``.

    ``max_bucket_size`` caps hot chunks via the star rewiring of
    ``_bucket_capped_self_join`` (the verify still runs on the star edges —
    the representative row carries its fingerprint through the join)."""
    if bits % 4 != 0:
        # chunks at shifts 0/w/2w/3w would silently drop the top bits%4
        # bits from every chunk, voiding the pigeonhole full-recall
        # guarantee for max_hamming <= 3
        raise ValueError(f"bits must be a multiple of 4 (use 32 or 64), got {bits}")
    w = bits // 4
    chunks = F.array(
        *[
            F.shiftright(F.col(simhash_col), s)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias(f"c{s}")
            for s in (0, w, 2 * w, 3 * w)
        ]
    )
    # both self-join sides are the same subtree — Spark's ReusedExchange
    # dedupes the shuffle without caching
    banded = df.select(
        F.col(id_col), F.col(simhash_col), F.posexplode(chunks).alias("chunk_id", "chunk")
    )
    pairs = (
        _bucket_capped_self_join(
            banded,
            ("chunk_id", "chunk"),
            id_col,
            max_bucket_size,
            lambda joined: joined.select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(
                    F.col(f"a.{simhash_col}").bitwiseXOR(F.col(f"b.{simhash_col}"))
                ).alias("hamming"),
            ),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    sep: str = "\n\n",
    out: Optional[str] = None,
    out_dropped: Optional[str] = None,
    scope: str = "corpus",
) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup, keep-first (the C4 recipe):
    every repeated paragraph survives only at its first occurrence — the
    smallest ``(id, position)`` — and is removed in place everywhere else,
    including later repeats inside the same document. The granularity
    between whole-document ``exact_dedup`` (misses partial copies) and
    ``remove_boilerplate_lines`` (drops frequent lines from EVERY doc,
    keeping none).

    Scale shape (mirrors ``remove_boilerplate_lines`` — document text is
    never re-aggregated from exploded rows):

    1. explode to (id, pos, xxhash64(paragraph)) — narrow rows;
    2. per-hash winner = ``min(struct(id, pos))`` with the occurrence
       count, via ONE map-side-combined groupBy; only hashes with ≥ 2
       occurrences (the actual duplicates — rare relative to the corpus)
       survive as the join side;
    3. occurrences re-join the winner table on the hash (AQE broadcasts it
       when small; a paragraph repeated across millions of docs makes a hot
       join key whose task does linear work — narrow rows, no blowup),
       non-winners aggregate into per-doc bad-position lists, and the
       positions drop from the paragraph ARRAY in place (null-safe id
       join-back, same as the sibling operators).

    ``sep`` splits as a Java regex and re-joins as a literal (fine for
    plain separators like the blank-line default). ``id_col`` values must
    be mutually orderable; ties are broken by position, so results are
    deterministic whenever ``(id, pos)`` pairs are unique.

    ``out_dropped`` adds a long column with the exact number of removed
    paragraph positions per document — prefer it over diffing
    split-lengths of the rewritten text, which is ambiguous when a single
    empty-string paragraph is all that survives (``array_join([""])`` and
    ``array_join([])`` both render ``""``).

    ``scope="document"`` (r9) restricts dedup to WITHIN each document —
    the RefinedWeb/Gopher in-document repeated-line/paragraph filter
    (``sep="\\n"`` for lines): a block repeated inside one doc keeps only
    its first occurrence, while cross-document repeats are untouched. The
    winner key shrinks to ``min(__pos)`` per (id, hash) — a plain long
    codegen HashAggregate with map-side combine, and the shuffle key
    (id, hash) is unique-ish by construction, so no hot keys exist at any
    corpus size (the corpus-wide mode's hot-hash story doesn't arise)."""
    if scope not in ("corpus", "document"):
        raise ValueError(f"unknown scope {scope!r}; use 'corpus' or 'document'")
    paras_arr = F.split(F.col(text_col), sep)
    # posexplode_outer + null filter per the explode-pushdown gotcha
    occ = df.select(
        F.col(id_col), F.posexplode_outer(paras_arr).alias("__pos", "__para")
    ).where(F.col("__para").isNotNull())
    hashed = occ.select(id_col, "__pos", F.xxhash64(F.col("__para")).alias("__ph"))
    if scope == "document":
        winners = (
            hashed.groupBy(id_col, "__ph")
            .agg(F.min("__pos").alias("__w"), F.count("*").alias("__n"))
            .where(F.col("__n") >= 2)
            .select(
                F.col(id_col).alias("__w_id"),
                F.col("__ph").alias("__w_ph"),
                "__w",
            )
        )
        bad_pos = (
            hashed.join(
                winners,
                F.col(id_col).eqNullSafe(F.col("__w_id"))
                & (F.col("__ph") == F.col("__w_ph")),
            )
            .where(F.col("__pos") != F.col("__w"))
            .groupBy(id_col)
            .agg(F.collect_list("__pos").alias("__bad"))
            .select(F.col(id_col).alias("__pd_id"), "__bad")
        )
    else:
        winners, is_winner = _first_occurrence(hashed, "__ph", id_col, 2)
        bad_pos = (
            hashed.join(winners, "__ph")
            .where(~is_winner)
            .groupBy(id_col)
            .agg(F.collect_list("__pos").alias("__bad"))
            .select(F.col(id_col).alias("__pd_id"), "__bad")
        )
    target = out or text_col
    cleaned = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.array_join(
            F.filter(
                paras_arr,
                lambda para, i: ~F.coalesce(
                    F.array_contains(F.col("__bad"), i), F.lit(False)
                ),
            ),
            sep,
        )
    )
    joined = df.join(
        bad_pos, F.col(id_col).eqNullSafe(F.col("__pd_id")), "left"
    ).withColumn(target, cleaned)
    if out_dropped is not None:
        joined = joined.withColumn(
            out_dropped, F.coalesce(F.size("__bad"), F.lit(0)).cast("long")
        )
    return joined.drop("__pd_id", "__bad")


def _first_occurrence(
    df: DataFrame, key_col: str, id_col: str, min_count: int
):
    """Shared keep-first winner selection: group ``df`` by ``key_col`` and
    find the lexicographically smallest ``(id, __pos)`` occurrence plus the
    occurrence count, keeping groups at/over ``min_count``. Returns
    ``(winners_df, is_winner)`` where ``winners_df`` has (key_col, winner
    key) and ``is_winner`` compares an occurrence row (``id_col``,
    ``__pos``) joined to it.

    Integral ids take the ENCODED path: ``min`` over one decimal(38,0)
    scalar ``id·2³¹ + pos`` — codegen HashAggregate with a fixed-width
    buffer and map-side combine (``min(struct(...))`` plans as
    SortAggregate: two extra full sorts of the occurrence relation with
    interpreted struct comparisons — measured several× slower at 13M
    rows). A NULL id maps to a below-any-long sentinel, matching struct
    ordering's null-first field semantics (parity test pins it). Other id
    types keep the struct form."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_dtype = df.schema[id_col].dataType
    if isinstance(id_dtype, (ByteType, ShortType, IntegerType, LongType)):
        import decimal

        two31 = F.lit(1 << 31).cast("decimal(38,0)")
        # below-any-long sentinel exceeds long range — ship it as a
        # python Decimal (py4j cannot encode the int)
        sent = F.lit(decimal.Decimal(-(1 << 63) - 1)).cast("decimal(20,0)")

        def enc(idc: Column, posc: Column) -> Column:
            idd = F.when(idc.isNull(), sent).otherwise(idc.cast("decimal(20,0)"))
            return idd.cast("decimal(38,0)") * two31 + posc.cast("decimal(38,0)")

        winners = (
            df.groupBy(key_col)
            .agg(
                F.min(enc(F.col(id_col), F.col("__pos"))).alias("__w"),
                F.count("*").alias("__n"),
            )
            .where(F.col("__n") >= min_count)
            .select(key_col, "__w")
        )
        is_winner = enc(F.col(id_col), F.col("__pos")) == F.col("__w")
        return winners, is_winner
    winners = (
        df.groupBy(key_col)
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))
            ).alias("__w"),
            F.count("*").alias("__n"),
        )
        .where(F.col("__n") >= min_count)
        .select(key_col, "__w")
    )
    is_winner = F.col(id_col).eqNullSafe(F.col("__w.i")) & (
        F.col("__pos") == F.col("__w.p")
    )
    return winners, is_winner


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 50,
    min_count: int = 2,
    hash_family: str = "xxhash64",
    out: Optional[str] = None,
    out_removed: Optional[str] = None,
) -> DataFrame:
    """Corpus-wide exact SPAN dedup, keep-first: every word ``n``-gram that
    occurs ``min_count``-plus times corpus-wide survives only at its first
    occurrence — the smallest ``(id, position)`` — and every other
    occurrence's n tokens are cut from the document in place. The
    finest-grain member of the exact-dedup family (document →
    ``exact_dedup``, paragraph → ``dedup_paragraphs``, span → here): it
    catches boilerplate passages embedded mid-document that neither
    whole-document nor paragraph-boundary dedup can see (the
    train-data-dedup recipe of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", there with a suffix array — re-expressed
    here as fixed-length-window dedup so it distributes as narrow-row
    DataFrame ops).

    Scale shape (mirrors ``dedup_paragraphs`` — document text is never
    re-aggregated from exploded rows, and UNAFFECTED documents pass through
    byte-identical without entering the rebuild):

    1. explode each document into (id, pos, gram_hash) for every
       position's n consecutive tokens (per-token hashes hoisted so a gram
       hash is ``xxhash64`` of n fixed-width longs, not a string build);
       documents with fewer than n tokens produce no grams;
    2. ONE map-side-combined groupBy finds each gram's first occurrence
       (``min(struct(id, pos))``) and count; only grams at/over
       ``min_count`` survive as the join side (rare at a real n like 50);
    3. non-winner occurrences merge into disjoint covered intervals per
       document (flagged rows only — a window over positions whose running
       ``max(pos + n)`` splits islands), and ONE indexed ``filter`` drops
       covered tokens from the token array in place (per-token cost is
       O(merged spans of that doc), and spans exist only for affected
       docs).

    Affected documents are rebuilt with single-space joins (whitespace
    normalization, the usual corpus-pipeline contract); untouched documents
    keep their original bytes. ``out_removed`` adds a long column with the
    exact number of removed token positions. ``hash_family="md5_32"``
    hashes gram STRINGS engine-neutrally for oracle replay (production
    default xxhash64 hashes n token hashes — no string materialization)."""
    if n < 1 or min_count < 2:
        raise ValueError("remove_duplicate_spans needs n >= 1 and min_count >= 2")
    gh_c = "__tempo_gh"
    occ = _gram_occurrences(df, id_col, text_col, n, hash_family)
    winners, is_winner = _first_occurrence(occ, gh_c, id_col, min_count)
    flagged = occ.join(winners, gh_c).where(~is_winner).select(id_col, "__pos")
    return _cut_flagged_spans(df, flagged, id_col, text_col, n, out, out_removed)


def _gram_occurrences(
    df: DataFrame, id_col: str, text_col: str, n: int, hash_family: str
) -> DataFrame:
    """Positional word n-gram hashes: one narrow row per (id, pos, hash).
    xxhash64 family hashes n hoisted token hashes (fixed-width, no string
    builds); md5_32 hashes the gram STRING (engine-neutral replay).
    Documents with fewer than n tokens emit nothing.

    The gram hash is computed AFTER the Generate as a row-level
    expression: hashing inside the position ``transform`` ran interpreted
    (higher-order functions never enter whole-stage codegen) — exploding
    bare positions and hashing post-Generate is bit-identical and measured
    ~12x on the gram stage (1M docs x 13 positions: 12 s → 1 s)."""
    toks_c, th_c, gh_c = "__tempo_toks", "__tempo_tokh", "__tempo_gh"
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    if hash_family == "md5_32":
        base = df.select(F.col(id_col), toks.alias(toks_c))
        carry = [F.col(toks_c)]
        gh = md5_32(
            F.concat_ws(
                " ", F.slice(F.col(toks_c), F.col("__pos") + F.lit(1), F.lit(n))
            )
        )
    else:
        base = df.select(F.col(id_col), toks.alias(toks_c)).withColumn(
            th_c, F.transform(F.col(toks_c), lambda t: F.xxhash64(t))
        )
        carry = [F.col(toks_c), F.col(th_c)]
        gh = F.xxhash64(
            *[
                F.element_at(F.col(th_c), F.col("__pos") + F.lit(j))
                for j in range(1, n + 1)
            ]
        )
    # explode_outer + post-Generate isNotNull (the pushdown trap — see
    # ngram_contamination); the position value doubles as the null probe
    return (
        base.where(F.size(F.col(toks_c)) >= n)
        .select(
            F.col(id_col),
            *carry,
            F.explode_outer(
                F.sequence(F.lit(0), F.size(F.col(toks_c)) - F.lit(n))
            ).alias("__pos"),
        )
        .where(F.col("__pos").isNotNull())
        .select(F.col(id_col), "__pos", gh.alias(gh_c))
    )


def _cut_flagged_spans(
    df: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out: Optional[str],
    out_removed: Optional[str],
) -> DataFrame:
    """Shared span-cut tail: merge flagged (id, __pos) n-token spans into
    disjoint covered islands (window over FLAGGED rows only — a new island
    starts when a span's start clears the running max end), then drop
    covered tokens from the token array in place with ONE indexed filter.
    Unaffected documents keep their original bytes."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    wpos = Window.partitionBy(id_col).orderBy("__pos")
    prev_max_end = F.max(F.col("__pos") + F.lit(n)).over(
        wpos.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        flagged.withColumn(
            "__gid",
            F.sum(
                F.when(F.col("__pos") > F.coalesce(prev_max_end - 1, F.lit(-1)), 1)
                .otherwise(0)
            ).over(wpos.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy(id_col, "__gid")
        .agg(F.min("__pos").alias("s"), (F.max("__pos") + F.lit(n)).alias("e"))
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("s", "e")).alias("__spans"),
            F.sum(F.col("e") - F.col("s")).alias("__covered"),
        )
        .select(F.col(id_col).alias("__sp_id"), "__spans", "__covered")
    )
    target = out or text_col
    covered_factory = lambda i: lambda sp: (i >= sp.getField("s")) & (
        i < sp.getField("e")
    )
    cleaned = F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(
        F.concat_ws(
            " ",
            F.filter(toks, lambda t, i: ~F.exists(F.col("__spans"), covered_factory(i))),
        )
    )
    joined = df.join(
        spans, F.col(id_col).eqNullSafe(F.col("__sp_id")), "left"
    ).withColumn(target, cleaned)
    if out_removed is not None:
        joined = joined.withColumn(
            out_removed, F.coalesce(F.col("__covered"), F.lit(0)).cast("long")
        )
    return joined.drop("__sp_id", "__spans", "__covered")


def remove_contaminated_spans(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hash_family: str = "xxhash64",
    out: Optional[str] = None,
    out_removed: Optional[str] = None,
) -> DataFrame:
    """SURGICAL benchmark decontamination: cut every corpus span whose
    word ``n``-gram appears anywhere in the benchmark/eval set, keeping
    the rest of the document — the removal companion to
    :func:`ngram_contamination` (which only FLAGS documents; dropping a
    whole book because one paragraph quotes an eval question wastes the
    book). Overlapping contaminated grams merge into disjoint islands and
    cut as one span, exactly like :func:`remove_duplicate_spans` (shared
    machinery — the two cannot drift apart).

    Scale shape: the benchmark's distinct gram hashes are the small join
    side by construction (AQE broadcasts them); the corpus explodes ONCE
    to narrow (id, pos, hash) rows, only MATCHING rows reach the island
    merge, and unaffected documents never enter the rebuild."""
    if n < 1:
        raise ValueError("remove_contaminated_spans needs n >= 1")
    gh_c = "__tempo_gh"
    occ = _gram_occurrences(corpus_df, id_col, text_col, n, hash_family)
    bench = (
        _gram_occurrences(benchmark_df, id_col, text_col, n, hash_family)
        .select(gh_c)
        .distinct()
    )
    flagged = occ.join(bench, gh_c, "left_semi").select(id_col, "__pos")
    return _cut_flagged_spans(
        corpus_df, flagged, id_col, text_col, n, out, out_removed
    )


# ------------------------------------------------------------ ngram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = 1000,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing at least one shingle.

    Co-occurrence join on the shingle key; ``max_shingle_freq`` drops
    ubiquitous shingles (stop-grams) that would otherwise produce quadratic
    candidate blowup at scale.

    Shingles are generated by exploding bare POSITIONS and reading the k
    tokens (or token hashes) post-Generate with ``element_at`` — row-level
    whole-stage codegen with ZERO shuffle. The previous posexplode +
    ``lead``-window form was codegen too but shuffled AND sorted the full
    token relation just to line up neighbors (paired A/B at 1M×60-token
    docs: 4.0-4.9 s vs 7.8-8.6 s warmed, identical distinct counts).
    Documents shorter than ``shingle_k`` tokens contribute their whole
    text as one shingle.

    ``hash_shingles`` (default on) makes each shingle key an ``xxhash64``
    long over the k TOKEN HASHES (no shingle string ever materializes) —
    the exploded shingle relation is the biggest shuffle in this pipeline,
    and 8-byte keys cut its width severalfold vs k-word strings. Jaccard
    is count arithmetic over distinct keys, so results are identical up to
    2⁻⁶⁴ hash collisions."""
    toks_c, th_c = "__tempo_toks", "__tempo_tokh"
    base = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias(toks_c)
    )
    if hash_shingles:
        base = base.withColumn(
            th_c, F.transform(F.col(toks_c), lambda t: F.xxhash64(t))
        )
        carry, sh = (
            [F.col(th_c)],
            F.xxhash64(
                *[
                    F.element_at(F.col(th_c), F.col("__pos") + F.lit(j))
                    for j in range(1, shingle_k + 1)
                ]
            ),
        )
    else:
        carry, sh = (
            [F.col(toks_c)],
            F.concat_ws(
                " ",
                F.slice(
                    F.col(toks_c), F.col("__pos") + F.lit(1), F.lit(shingle_k)
                ),
            ),
        )
    grams = (
        base.where(F.size(F.col(toks_c)) >= shingle_k)
        .select(
            F.col(id_col),
            *carry,
            F.explode_outer(
                F.sequence(F.lit(0), F.size(F.col(toks_c)) - F.lit(shingle_k))
            ).alias("__pos"),
        )
        .where(F.col("__pos").isNotNull())
        .select(F.col(id_col), sh.alias("__sh"))
    )
    short_text = F.trim(F.col(text_col))
    short_docs = (
        df.select(
            F.col(id_col),
            (F.xxhash64(short_text) if hash_shingles else short_text).alias(
                "__sh"
            ),
            F.size(F.split(short_text, r"\s+")).alias("__n"),
        )
        .where(F.col("__n") < shingle_k)
        .drop("__n")
    )
    shingled = grams.unionByName(short_docs).distinct()
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("__n"))
    if max_shingle_freq is not None:
        # over-limit shingles found with groupBy (PARTIAL aggregation
        # collapses a stop-gram map-side — each task contributes one
        # (hash, count) row no matter how many documents carry it), then
        # broadcast anti-joined away. The former count()-over-
        # Window.partitionBy(__sh) had NO map-side combine: a shingle in
        # ~every document landed all its rows in ONE task BEFORE the
        # cutoff could drop them — at 1B docs that is a 1B-row hot
        # partition, exactly the skew this filter exists to prevent.
        # Over-limit hashes are rare by construction (each needs
        # > max_shingle_freq distinct docs), so the anti-join side stays
        # broadcast-sized and the filter itself adds zero shuffles to
        # `shingled`.
        hot = (
            shingled.groupBy("__sh")
            .agg(F.count("*").alias("__f"))
            .where(F.col("__f") > max_shingle_freq)
            .select("__sh")
        )
        shingled = shingled.join(F.broadcast(hot), "__sh", "left_anti")
    a, b = shingled.alias("a"), shingled.alias("b")
    co = (
        a.join(
            b,
            on=[
                F.col("a.__sh") == F.col("b.__sh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("__co"))
    )
    out = (
        co.join(sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .withColumn(
            "jaccard", F.col("__co") / (F.col("__na") + F.col("__nb") - F.col("__co"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", grid6("jaccard").alias("jaccard"))
    )
    return out
