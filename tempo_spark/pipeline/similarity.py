"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set, compute cosine with native ``zip_with``/``aggregate`` (JVM,
  codegen), per-query top-k via window. Cost O(|corpus|·|queries|) but
  embarrassingly parallel and shuffle-free until the final top-k.
- **LSH-bucketed top-k** — the scale path: random-hyperplane signatures
  bucket the corpus; each query only scores its own bucket (+ optional
  multi-probe neighbors). Recall < 1, cost ~O(n/2^planes) per query.

Embedding-cosine near-dup detection reuses the same signature buckets.
"""

from __future__ import annotations

import math
import random
from typing import Optional

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from tempo_spark.functions.sql import double_lit, grid6, ident


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out: Optional[str] = None
) -> DataFrame:
    """L2-normalize an embedding column (``v / ||v||``); after this, dot
    product IS cosine, so downstream ANN skips the per-row norm divide.
    Zero vectors (and nulls) pass through unchanged rather than dividing by
    zero. Pure per-row HOFs — no shuffle, no Python. The norm is hoisted
    into an intermediate column: HOFs are not CSE'd, so an inline norm
    would be recomputed once per element."""
    out = out or vec_col
    nc = "__l2norm"
    stepped = df.withColumn(nc, norm(_as_double(F.col(vec_col))))

    def scale(x: Column) -> Column:
        return x / F.col(nc)

    normalized = F.when(
        F.col(nc) > 0, F.transform(_as_double(F.col(vec_col)), scale)
    ).otherwise(_as_double(F.col(vec_col)))
    return stepped.withColumn(out, normalized).drop(nc)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_q: str = "embedding_q8",
    out_scale: str = "q8_scale",
    keep: bool = False,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q = round(x / scale)`` as ``array<tinyint>`` — 4× smaller than float32
    at rest and on the shuffle wire, the standard storage layout for
    billion-vector corpora (dequantized error ≤ scale/2 per component).
    Zero/null vectors get scale 0 and all-zero codes. Per-row HOFs only;
    ``keep=False`` drops the float column (the point of quantizing)."""
    mx = "__absmax"
    stepped = df.withColumn(
        mx,
        F.aggregate(
            _as_double(F.col(vec_col)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, F.abs(x)),
        ),
    )

    def q(x: Column) -> Column:
        return F.round(x * 127.0 / F.col(mx)).cast("tinyint")

    codes = F.when(
        F.col(mx) > 0, F.transform(_as_double(F.col(vec_col)), q)
    ).otherwise(F.transform(_as_double(F.col(vec_col)), lambda x: F.lit(0).cast("tinyint")))
    stepped = (
        stepped.withColumn(out_q, codes)
        .withColumn(out_scale, F.col(mx) / 127.0)
        .drop(mx)
    )
    return stepped if keep else stepped.drop(vec_col)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "embedding_q8",
    scale_col: str = "q8_scale",
    out: str = "embedding",
    keep: bool = False,
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: ``x ≈ q * scale`` as
    ``array<double>`` (error ≤ scale/2 per component)."""
    def dq(c: Column) -> Column:
        return c.cast("double") * F.col(scale_col)

    stepped = df.withColumn(out, F.transform(F.col(q_col), dq))
    return stepped if keep else stepped.drop(q_col, scale_col)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. The query side is broadcast — corpus
    never shuffles until the per-query top-k window (which partitions by
    query_id, a tiny key space)."""
    c = corpus.select(
        F.col(corpus_id).alias("__cid"), _as_double(F.col(corpus_vec)).alias("__cvec")
    )
    q = queries.select(
        F.col(query_id).alias("__qid"), _as_double(F.col(query_vec)).alias("__qvec")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .withColumnRenamed("__rank", "rank")
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    k: Optional[int] = None,
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one — the number every ANN knob (``n_planes``, ``nprobe``,
    ``n_centroids``) is tuned against. Both inputs are result frames in the
    shape the top-k operators emit (``query_id``, ``corpus_id``, optional
    ``rank``); ``k`` truncates both sides to ``rank <= k`` first (requires
    the rank column) so one exact run can score several depths.

    Returns ``(query_id, n_exact, n_hit, recall)`` — feed it a
    ``.agg(avg("recall"))`` for the headline number. Distributed: a
    left-semi hit count plus a denominator count, both shuffling only
    (query, id) pairs — run it over a million queries without collecting
    anything."""
    a = approx
    e = exact
    if k is not None:
        for side, name in ((a, "approx"), (e, "exact")):
            if "rank" not in side.columns:
                raise ValueError(f"k= given but {name} frame has no 'rank' column")
        a = a.where(F.col("rank") <= k)
        e = e.where(F.col("rank") <= k)
    # distinct BOTH sides: left_semi dedupes only the probe (right) side, so
    # duplicate (query, id) rows in a non-deduped approx frame would each
    # count as a hit and inflate recall past 1.0
    a = a.select(query_id, corpus_id).distinct()
    e = e.select(query_id, corpus_id).distinct()
    hits = (
        a.join(e, [query_id, corpus_id], "left_semi")
        .groupBy(query_id)
        .agg(F.count("*").alias("n_hit"))
    )
    denom = e.groupBy(query_id).agg(F.count("*").alias("n_exact"))
    return denom.join(hits, query_id, "left").select(
        query_id,
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("recall"),
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes (driver-side literals — tiny)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of the vector SQL fragment ``vec`` (a column
    name or expression): bit i set iff vec·plane_i > 0. Evaluated as a
    native expression over literal plane arrays, the whole
    n_planes×dim literal tree built in ONE parsed expression (one py4j
    round trip instead of one per element — the plan-build-latency
    discipline)."""
    terms = ["cast(0 as bigint)"]
    for i, p in enumerate(planes):
        bit = (
            f"(case when {_dot_sql(vec, [float(x) for x in p])} > 0 "
            f"then cast(1 as bigint) else cast(0 as bigint) end)"
        )
        terms.append(f"shiftleft({bit}, {i})")
    return F.expr(" + ".join(terms))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: Optional[int] = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane bucket. Equi-join on the bucket id → hash join, shuffle
    proportional to bucket sizes (~n/2^planes per query).

    ``dim`` (the embedding width) is required: the hyperplanes are
    plan-build-time literals, and inferring the width would mean an eager
    scan of the corpus inside what should be a lazy plan constructor."""
    if dim is None:
        raise ValueError(
            "pass dim= (the embedding width); hyperplanes are plan-time "
            "literals, so the width cannot be inferred lazily"
        )
    planes = random_hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        _as_double(F.col(corpus_vec)).alias("__cvec"),
    ).withColumn("__bucket", hyperplane_bucket("__cvec", planes))
    q = queries.select(
        F.col(query_id).alias("__qid"),
        _as_double(F.col(query_vec)).alias("__qvec"),
    ).withColumn("__bucket", hyperplane_bucket("__qvec", planes))
    scored = c.join(F.broadcast(q), "__bucket").select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .withColumnRenamed("__rank", "rank")
    )


def _dot_sql(vec_sql: str, center: list[float]) -> str:
    """SQL text of :func:`dot` against a literal array — the identical
    ``aggregate(zip_with(...))`` fold, parsed in ONE py4j round trip
    instead of one per element. Plan-build latency is a real scale axis
    (guide §7.3; the repo's parsed-SQL discipline): the per-element
    ``F.lit`` form costs dim+1 driver round trips PER CENTROID, measured
    as multi-second build time for k×dim near ASSIGN_LITERAL_MAX."""
    arr = ",".join(double_lit(x) for x in center)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _center_term_sql(vec_sql: str, center: list[float]) -> str:
    """THE literal-path distance surrogate to one centroid, as SQL text:
    ``−2·v·c + ‖c‖²`` (= ‖v−c‖² − ‖v‖²; the ‖v‖² term is rank-invariant).
    ``‖c‖²`` is folded left-to-right driver-side — the same IEEE op order
    as a SQL ``list_reduce`` — so an external engine replays it
    bit-exactly. Single definition shared by the IVF cell scores and the
    PQ LUT so the cross-engine fold order cannot drift between them."""
    cn = double_lit(sum(x * x for x in center))
    return f"-2.0D * {_dot_sql(vec_sql, center)} + {cn}"


def _cell_scores(vec_sql: str, centers: list[list[float]]) -> Column:
    """array<struct<d,cell>> of squared-distance surrogates to each centroid,
    as a native expression over literal centroid arrays (no shuffle, no UDF)
    — the ``d`` term is :func:`_center_term_sql`. The whole k×dim literal
    tree is built as ONE parsed expression (one py4j round trip instead of
    ~k·dim — measured 16×64 ≈ 2,100 round trips ≈ 1-2 s of driver time per
    plan build on the bench); scores are pinned bit-exact by goldens in
    ``tests/test_similarity_sqlbuild.py``."""
    entries = ",".join(
        f"named_struct('d', {_center_term_sql(vec_sql, c)}, 'cell', {i})"
        for i, c in enumerate(centers)
    )
    return F.expr(f"array({entries})")


# above this many TOTAL LITERALS (n_centroids × dim — the actual size of
# the expression tree, not just k) the literal path stops being the right
# plan: every literal costs driver py4j + Catalyst time per plan build
# (measured: k=64 × dim=64 = 4096 literals ≈ 5.6 s to BUILD vs 0.8 s on
# the broadcast path; the simhash lesson at expression scale). Past the
# budget, centroids travel as broadcast DATA (a 1-row array<struct> frame
# cross-joined in) instead of as expressions. Module-level so tests/probes
# can force either path.
ASSIGN_LITERAL_MAX = 1024


def _literal_path_ok(centers: list[list[float]]) -> bool:
    return len(centers) * (len(centers[0]) if centers else 1) <= ASSIGN_LITERAL_MAX


def _centers_frame(spark, centers: list[list[float]]) -> DataFrame:
    """ONE-row frame holding every centroid as
    ``array<struct<cell int, center array<double>, cnorm double>>`` —
    broadcast to executors as data, invisible to the expression tree.
    ``cnorm`` is folded driver-side left-to-right, the exact IEEE op order
    of the literal path's ``sum(x*x)``, so both paths score bit-identically.
    """
    cents = [
        {"cell": i, "center": [float(x) for x in c], "cnorm": sum(x * x for x in c)}
        for i, c in enumerate(centers)
    ]
    return spark.createDataFrame(
        [(cents,)],
        "__cents array<struct<cell: int, center: array<double>, cnorm: double>>",
    )


def _scored_over(vec: Column, cents_col: Column) -> Column:
    """array<struct<d,cell>> scored against a centroid ARRAY COLUMN — the
    data-path twin of :func:`_cell_scores` (same d surrogate, same zip_with/
    aggregate dot fold, so scores match the literal path bit-exactly)."""
    return F.transform(
        cents_col,
        lambda c: F.struct(
            (
                F.lit(-2.0) * dot(vec, c.getField("center")) + c.getField("cnorm")
            ).alias("d"),
            c.getField("cell").alias("cell"),
        ),
    )


# above this many k×dim multiply-adds PER ROW the broadcast HOF argmin —
# interpreted expression evaluation, never codegen'd — stops being viable
# (measured: k=1024 × dim=16 over 200k rows ≈ minutes) and assignment
# drops into an Arrow-batched numpy matmul kernel: B rows × k centroids
# per batch as ONE BLAS call (the faiss recipe — a coarse quantizer at
# real k IS dense linear algebra). Module-level so tests can force paths.
# Arrow matmul beats the interpreted broadcast-HOF argmin at EVERY
# measured size past the literal budget (sf0.1 semantic_dedup, paired
# same-session reps: k×dim=4096 2.3 vs 5.0 s; 2048 2.3 vs 3.5; 1536 2.4
# vs 3.3) — the HOF path is interpreted per element while the kernel is
# one BLAS call per Arrow batch. Boundary == ASSIGN_LITERAL_MAX; raise
# this in deployments that must keep plans Python-free (the broadcast
# middle path below remains the no-Python fallback).
ASSIGN_ARROW_MIN_OPS = 1024

# Hard cap on driver-side quantizer-fit collects (IVF init_mode="local",
# PQCodec.train). The fit collect's bound is CONTRACTUAL — fit_sample_mod
# unset on a 100-TB corpus would otherwise pull the whole corpus through
# the driver. A structural limit(+1) makes the overflow a clear error
# (set fit_sample_mod) instead of a driver OOM hours into a job. 1M rows
# × ~1 KiB vector ≈ 1 GiB driver memory — the practical ceiling; k-means
# quality saturates far below it (the faiss guidance is ~(39..256)·k
# training points).
MAX_FIT_ROWS = 1_000_000


def suggest_cells(n_vectors: int, dim: int | None = None) -> int:
    """Recommended IVF cell count for a corpus of ``n_vectors`` (the
    public faiss guideline: k ≈ √n cells, trained on a ≤ ~256·k sample —
    beyond that, k-means quality saturates while fit cost keeps growing).
    At 10⁹ vectors this gives k ≈ 31623, nprobe-bounded queries touch
    ~√n vectors, and the per-cell partition stays ~√n rows — the balanced
    point of the IVF cost model.

    Pass ``dim`` to get the plan-path warning: when k × dim crosses
    ``ASSIGN_ARROW_MIN_OPS`` the cell-assignment stage leaves the pure-JVM
    expression paths and runs the Arrow matmul kernel (right at scale,
    but a deployment that must stay Python-free should cap k or raise the
    budget — see the constant's docstring). Also warns when the faiss
    fit-sample guidance (256·k) exceeds ``MAX_FIT_ROWS`` — pass
    ``fit_sample_mod`` so the driver fit stays bounded."""
    import math
    import warnings

    if n_vectors < 1:
        raise ValueError(f"n_vectors must be >= 1, got {n_vectors}")
    k = max(1, int(round(math.sqrt(n_vectors))))
    if dim is not None and k * dim > ASSIGN_ARROW_MIN_OPS:
        warnings.warn(
            f"suggest_cells: k={k} × dim={dim} = {k * dim} ops/row crosses "
            f"ASSIGN_ARROW_MIN_OPS={ASSIGN_ARROW_MIN_OPS}; cell assignment "
            "will use the Arrow matmul kernel (the right plan at this "
            "size) instead of pure-JVM expressions",
            stacklevel=2,
        )
    if 256 * k > MAX_FIT_ROWS:
        warnings.warn(
            f"suggest_cells: the faiss fit guidance 256·k = {256 * k} "
            f"exceeds MAX_FIT_ROWS={MAX_FIT_ROWS}; pass fit_sample_mod= "
            "to IVFIndex.build so the quantizer fit stays a bounded "
            "hash-sample",
            stacklevel=2,
        )
    return k


def _bounded_fit_collect(ordered_proj, what: str):
    """orderBy-ed fit projection → list of rows, raising past MAX_FIT_ROWS
    (limit(MAX+1) keeps the sorted prefix structural — the extra row only
    witnesses the overflow, never silently truncates the fit set)."""
    rows = ordered_proj.limit(MAX_FIT_ROWS + 1).collect()
    if len(rows) > MAX_FIT_ROWS:
        raise ValueError(
            f"{what}: fit set exceeds MAX_FIT_ROWS={MAX_FIT_ROWS} — pass "
            "fit_sample_mod= to hash-sample the quantizer fit (the faiss "
            "recipe; quality saturates at a bounded sample) instead of "
            "collecting a corpus-scale fit set through the driver"
        )
    return rows


def _arrow_assign_udf(centers: list[list[float]]):
    """Scalar pandas_udf computing the argmin cell per vector via one
    batch matmul. Same distance surrogate (-2·v·c + |c|²) and the same
    first-minimum tie rule as the expression paths; float64 matmul
    accumulates in a different order than the left-fold, so ties that sit
    within ~1 ulp of each other may assign differently — a quantizer-
    boundary wobble, not a correctness boundary (any consistent cell works;
    parity with the HOF path is asserted off-tie in tests). Null or
    wrong-width vectors yield NULL, matching the expression paths."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)
    cn2 = (C * C).sum(axis=1)
    d = C.shape[1]

    @pandas_udf("int")
    def cell_of(vs: pd.Series) -> pd.Series:
        ok = vs.map(lambda v: v is not None and len(v) == d)
        out = pd.Series([None] * len(vs), dtype="Int32")
        if ok.any():
            M = np.stack(vs[ok].map(np.asarray).to_numpy()).astype(np.float64)
            # null/NaN elements arrive as NaN — NULL those cells like the
            # expression paths (argmin on NaN scores silently picks 0)
            finite = np.isfinite(M).all(axis=1)
            M = M[finite]
            idx = np.flatnonzero(ok.to_numpy())[finite]
            scores = -2.0 * (M @ C.T) + cn2
            out[idx] = np.argmin(scores, axis=1).astype("int32")
        return out

    return cell_of


def _local_lloyd(
    vecs: list, k: int, seed: int, max_iter: int
) -> list[list[float]]:
    """Seeded in-process Lloyd's over a collected fit sample (numpy
    matmul distance form) — the faiss coarse-quantizer training path.
    Vectors whose width differs from the sample's MAJORITY width are
    dropped (the distributed assign paths NULL them the same way; taking
    the first row's width would let one malformed vector hijack the
    model). Empty clusters keep their previous center. Deterministic
    given (sample order, seed) — the caller collects id-sorted."""
    import collections

    import numpy as np

    if not vecs:
        raise ValueError("local k-means fit set is empty")
    dim = collections.Counter(len(v) for v in vecs).most_common(1)[0][0]
    X = np.asarray(
        [v for v in vecs if len(v) == dim], dtype=np.float64
    )
    if X.size:
        # a vector with a null element becomes NaN and one NaN poisons a
        # centroid mean (argmin then silently funnels rows into it) —
        # drop non-finite sample vectors, matching the distributed assign
        # paths which NULL such rows' cells
        X = X[np.isfinite(X).all(axis=1)]
    if X.shape[0] < k:
        raise ValueError(
            f"local k-means fit set has {X.shape[0]} usable rows < k={k}; "
            f"lower n_centroids or widen fit_sample_mod"
        )
    rng = np.random.default_rng(seed)
    # k-means++ seeding (Arthur & Vassilvitskii 2007): each next center is
    # drawn proportional to squared distance from the chosen set. A plain
    # uniform draw regularly lands two seeds in one tight cluster and Lloyd
    # never splits it (empty clusters keep their center) — measured as a
    # whole-cluster merge on 4 well-separated planted groups. Deterministic
    # given (sample order, seed), O(n·k) driver-side — negligible next to
    # the Lloyd sweeps.
    first = int(rng.integers(X.shape[0]))
    chosen = [first]
    d2 = ((X - X[first]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = float(d2.sum())
        if total <= 0.0:
            # all remaining mass at distance 0 (duplicate-heavy sample):
            # fall back to uniform among the NOT-yet-chosen indices —
            # re-picking a chosen index would seed two identical
            # centroids that Lloyd's empty-cluster rule never splits,
            # the exact merge k-means++ exists to prevent
            remaining = np.setdiff1d(
                np.arange(X.shape[0]), np.asarray(chosen)
            )
            nxt = int(remaining[rng.integers(remaining.shape[0])])
        else:
            nxt = int(rng.choice(X.shape[0], p=d2 / total))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    x2 = (X * X).sum(axis=1, keepdims=True)
    for _ in range(max_iter):
        # argmin_c |x-c|^2 = argmin_c (|c|^2 - 2 x.c); |x|^2 is constant
        scores = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        labels = scores.argmin(axis=1)
        # centroid update via ONE stable sort + contiguous slice-means
        # instead of k boolean masks: X[order][lo:hi] holds exactly the
        # rows X[labels == j] in the same ascending-index order, so each
        # slice's np.mean is the IDENTICAL pairwise summation — results
        # are bit-equal to the masked form (pinned in
        # tests/test_similarity_sqlbuild.py) while the per-iteration cost
        # drops from k O(n) mask scans to one O(n log n) argsort (the
        # masked form was ~0.44 s per 2k×64-cluster PQ subspace fit —
        # ~0.8 s of every PQCodec.train on the bench)
        order = np.argsort(labels, kind="stable")
        Xs = X[order]
        bounds = np.searchsorted(labels[order], np.arange(k + 1))
        for j in range(k):
            lo, hi = bounds[j], bounds[j + 1]
            if hi > lo:
                C[j] = Xs[lo:hi].mean(axis=0)
    return [list(map(float, c)) for c in C]


def _assign_cells(
    df: DataFrame, centers: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """THE cell-assignment expression (argmin over centroid scores) shared
    by build(init='first') and IVFIndex.assign — build-time and
    incrementally-added cells must never drift apart. Three regimes by
    per-row work k × dim:

    - within ASSIGN_LITERAL_MAX: centroids inline as expression literals
      (zero extra plan nodes);
    - within ASSIGN_ARROW_MIN_OPS: centroids ride a broadcast 1-row array
      frame (plan size flat in k; argmin is ``array_min`` over a
      transform — still no Python). Default boundary equals the literal
      max (Arrow measured faster at every size past it — see the
      constant's note); raise ASSIGN_ARROW_MIN_OPS to re-enable this
      regime where Python workers are unwanted;
    - above: Arrow-batched numpy matmul (one BLAS call per batch — the
      only way to get SIMD throughput for genuinely large k; interpreted
      HOF evaluation measured in MINUTES at k=1024 × 200k rows where the
      kernel is seconds).

    Null or wrong-width vectors get a NULL cell on every path (the naive
    HOF argmin would quietly put them in cell 0 — a null distance sorts
    first in the score struct — silently polluting one cell at scale)."""
    proj = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__vec"))
    dim = len(centers[0]) if centers else 0
    # null/NaN ELEMENTS null the cell too (r9 — the r6 fix covered only
    # null/short VECTORS): a null element nulls every literal-path d and
    # the null-first struct sort silently assigns cell 0, the exact bug
    # class r6 fixed for whole-null vectors
    valid = (
        F.col("__vec").isNotNull()
        & (F.size("__vec") == dim)
        & ~F.exists(F.col("__vec"), lambda x: x.isNull() | F.isnan(x))
    )
    if _literal_path_ok(centers):
        nearest = F.element_at(
            F.array_sort(_cell_scores("__vec", centers)), 1
        ).getField("cell")
        return proj.withColumn("cell", F.when(valid, nearest))
    if len(centers) * dim <= ASSIGN_ARROW_MIN_OPS:
        joined = proj.crossJoin(
            F.broadcast(_centers_frame(df.sparkSession, centers))
        )
        nearest = F.array_min(
            _scored_over(F.col("__vec"), F.col("__cents"))
        ).getField("cell")
        return joined.withColumn("cell", F.when(valid, nearest)).drop("__cents")
    return proj.withColumn("cell", _arrow_assign_udf(centers)(F.col("__vec")))


class IVFIndex:
    """Inverted-file ANN index: a coarse k-means quantizer partitions the
    corpus into ``n_centroids`` cells; queries score only their ``nprobe``
    nearest cells.

    At scale: the assigned corpus can be written out partitioned/bucketed by
    ``cell`` so a probe reads only matching files; the centroid table is a
    driver-side literal (n_centroids × dim floats), never shuffled.
    """

    def __init__(self, assigned: DataFrame, centers: list[list[float]], id_col: str, vec_col: str):
        self.assigned = assigned  # (id, __vec double[], cell int)
        self.centers = centers
        self.id_col = id_col
        self.vec_col = vec_col

    @staticmethod
    def build(
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        seed: int = 42,
        max_iter: int = 5,
        init: str = "kmeans",
        init_mode: str = "k-means||",
        fit_sample_mod: Optional[int] = None,
    ) -> "IVFIndex":
        """``init="kmeans"`` (default): MLlib k-means quantizer — best cell
        balance, engine-specific initialization. ``init="first"``: centroids
        are the vectors of the ``n_centroids`` smallest ids, no Lloyd
        iterations — fully deterministic and replayable by any engine (an
        id-ordered LIMIT + the ``_cell_scores`` argmin), so results can be
        value-checked cross-engine; cell balance depends on the data.
        Both are eager at build time (an index build materializes by
        definition); the "first" collect is n_centroids rows.

        Quantizer-fit scale knobs (the faiss recipe — a coarse quantizer
        never trains on the full corpus):

        - ``fit_sample_mod=K`` fits k-means on the deterministic 1/K hash
          sample ``xxhash64(id) % K == 0`` — no shuffle, no rand() sort,
          reproducible; assignment still covers EVERY row. At 100 TB the
          fit sample is the only part of the corpus k-means ever sees.
        - ``init_mode="random"`` skips the k-means|| init passes (several
          extra sweeps of the fit set per init round — measured 7 s vs 2 s
          at k=64 on the local bench); with a few Lloyd iterations the
          cell balance difference is marginal for a COARSE quantizer.
        - ``init_mode="local"`` collects the fit set to the driver and
          runs seeded numpy Lloyd's there — ONE Spark job total where
          MLlib launches several per iteration (each a full scheduling
          round trip: the fit of a 2k-row quantizer was ~5 s of pure
          job overhead). This is how faiss trains coarse quantizers:
          in-process on a bounded sample. ALWAYS pair with
          ``fit_sample_mod`` on unbounded corpora — the collect is the
          fit SAMPLE, never the corpus; the assignment of the full
          corpus stays distributed via the shared argmin paths.
        """
        if init == "first":
            proj = corpus.select(
                F.col(id_col), _as_double(F.col(vec_col)).alias("__vec")
            )
            rows = proj.orderBy(id_col).limit(n_centroids).collect()
            centers = [[float(x) for x in r["__vec"]] for r in rows]
            assigned = _assign_cells(corpus, centers, id_col, vec_col)
            return IVFIndex(assigned, centers, id_col, vec_col)
        if init != "kmeans":
            raise ValueError(f"unknown init {init!r}; use 'kmeans' or 'first'")
        if init_mode == "local":
            proj = corpus.select(
                F.col(id_col), _as_double(F.col(vec_col)).alias("__vec")
            )
            fit_proj = proj
            if fit_sample_mod is not None and fit_sample_mod > 1:
                fit_proj = proj.where(
                    F.pmod(F.xxhash64(F.col(id_col)), F.lit(fit_sample_mod))
                    == 0
                )
            # id-sorted collect: a bare collect()'s row order is the
            # partition layout's, so the seeded init would pick different
            # centroids across repartitioned-but-identical corpora (the
            # same determinism pin as init="first"'s orderBy)
            rows = _bounded_fit_collect(
                fit_proj.where(F.col("__vec").isNotNull())
                .orderBy(id_col)
                .select("__vec"),
                "IVFIndex.build(init_mode='local')",
            )
            centers = _local_lloyd(
                [r["__vec"] for r in rows], n_centroids, seed, max_iter
            )
            assigned = _assign_cells(corpus, centers, id_col, vec_col)
            return IVFIndex(assigned, centers, id_col, vec_col)
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        featurized = corpus.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__vec")
        ).withColumn("__fv", array_to_vector(F.col("__vec")))
        fit_set = featurized
        if fit_sample_mod is not None and fit_sample_mod > 1:
            fit_set = featurized.where(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(fit_sample_mod)) == 0
            )
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="__fv",
            predictionCol="cell", initMode=init_mode,
        ).fit(fit_set)
        # assign the FULL corpus through the shared argmin expression (not
        # model.transform): build-time and incrementally-added cells must
        # come from the same code path whenever the fit set != the corpus
        centers = [list(map(float, c)) for c in model.clusterCenters()]
        if fit_set is featurized:
            assigned = model.transform(featurized).select(id_col, "__vec", "cell")
        else:
            assigned = _assign_cells(corpus, centers, id_col, vec_col)
        return IVFIndex(assigned, centers, id_col, vec_col)

    def assign(self, new_df: DataFrame) -> DataFrame:
        """Assign new vectors to the EXISTING quantizer cells (centroid
        literals → argmin, a pure per-row expression — no shuffle, no
        refit, no Python). Returns just the assigned frame
        ``(id, __vec, cell)`` — the unit of incremental persistence:
        ``idx.assign(shard).write.mode("append").partitionBy("cell")
        .parquet(f"{path}/corpus")`` grows a saved index without
        rewriting the existing corpus (``save_shard`` wraps this)."""
        return _assign_cells(new_df, self.centers, self.id_col, self.vec_col)

    def add(self, new_df: DataFrame) -> "IVFIndex":
        """Incremental index growth in memory: ``assign`` + union. This is
        the standard IVF ingestion path — the coarse quantizer is trained
        once and shards stream in against it; re-train only when cell
        sizes drift badly (monitor via ``cell_sizes``). Returns a NEW
        index; the original is untouched."""
        return IVFIndex(
            self.assigned.unionByName(self.assign(new_df)), self.centers,
            self.id_col, self.vec_col,
        )

    def save_shard(self, path: str, new_df: DataFrame) -> None:
        """Append a new shard's assignments into an index previously
        written by ``save`` — only the shard is written; the existing
        cell directories gain files, nothing is rewritten. Reload with
        ``load`` to query the grown index."""
        self.assign(new_df).write.mode("append").partitionBy("cell").parquet(
            f"{path}/corpus"
        )

    def cell_sizes(self) -> DataFrame:
        """Per-cell row counts — the drift signal that says when to
        re-train the quantizer. One vocabulary-sized shuffle."""
        return self.assigned.groupBy("cell").agg(F.count("*").alias("n"))

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist the index: corpus parquet PARTITIONED BY cell (so a probe
        of ``nprobe`` cells reads only those directories — dynamic partition
        pruning fires on the broadcast cell join), centroids as a tiny
        side parquet."""
        self.assigned.write.mode(mode).partitionBy("cell").parquet(f"{path}/corpus")
        spark = self.assigned.sparkSession
        centers_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centers)],
            "cell int, center array<double>",
        )
        centers_df.coalesce(1).write.mode(mode).parquet(f"{path}/centroids")

    @staticmethod
    def load(spark, path: str, id_col: str = "vec_id", vec_col: str = "embedding") -> "IVFIndex":
        assigned = spark.read.parquet(f"{path}/corpus")
        rows = spark.read.parquet(f"{path}/centroids").collect()
        centers = [list(r.center) for r in sorted(rows, key=lambda r: r.cell)]
        return IVFIndex(assigned, centers, id_col, vec_col)

    def _probe_cells(self, vec_sql: str, nprobe: int) -> Column:
        """ids of the nprobe nearest centroids, as a native expression over
        literal centroid arrays (no shuffle, no UDF; see _cell_scores)."""
        scored = _cell_scores(vec_sql, self.centers)
        return F.slice(F.array_sort(scored), 1, nprobe).getField("cell")

    def _with_probe_cells(
        self, frame: DataFrame, vec_col_name: str, nprobe: int
    ) -> DataFrame:
        """Explode ``frame`` into one row per (query, probed cell) — literal
        centroid expressions within the ASSIGN_LITERAL_MAX k×dim literal
        budget, broadcast centroid data above (same split, and the same bit-exact scoring, as
        :func:`_assign_cells`)."""
        if _literal_path_ok(self.centers):
            return frame.withColumn(
                "cell", F.explode(self._probe_cells(ident(vec_col_name), nprobe))
            )
        joined = frame.crossJoin(
            F.broadcast(_centers_frame(frame.sparkSession, self.centers))
        )
        cells = F.slice(
            F.array_sort(_scored_over(F.col(vec_col_name), F.col("__cents"))),
            1,
            nprobe,
        ).getField("cell")
        return joined.withColumn("cell", F.explode(cells)).drop("__cents")

    def topk(
        self,
        queries: DataFrame,
        query_id: str = "query_id",
        query_vec: str = "embedding",
        k: int = 5,
        nprobe: int = 2,
    ) -> DataFrame:
        q = self._with_probe_cells(
            queries.select(
                F.col(query_id).alias("__qid"),
                _as_double(F.col(query_vec)).alias("__qvec"),
            ),
            "__qvec",
            nprobe,
        )
        scored = self.assigned.join(F.broadcast(q), "cell").select(
            F.col("__qid").alias(query_id),
            F.col(self.id_col),
            F.round(cosine(F.col("__qvec"), F.col("__vec")), 6).alias("cosine"),
        )
        w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(self.id_col))
        return (
            scored.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= k)
            .withColumnRenamed("__rank", "rank")
        )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: Optional[int] = None,
    seed: int = 42,
    exact: bool = False,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via shared hyperplane bucket +
    exact cosine verify. Returns (id_a < id_b, cosine ≥ threshold).

    ``exact=True`` scores ALL pairs (no bucketing): recall 1 at O(n²)
    compare cost — the verification baseline for small corpora and the
    oracle-checked path. The default bucketed path is the scale path:
    candidate pairs ~n²/2^planes, each bucket joining independently.

    ``max_bucket_size`` caps a hot hyperplane bucket (e.g. millions of
    zero/identical vectors) via the star rewiring of
    ``dedup._bucket_capped_self_join`` — pair volume O(rows) instead of
    quadratic; the representative row carries its vector through the join
    so the cosine verify still runs on star edges."""
    if exact:
        # per-row norm hoisted: one fold per pair instead of three (HOFs
        # are interpreted and never CSE'd); identical IEEE ops and values
        v = df.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__vec")
        ).withColumn("__n2", norm(F.col("__vec")))
        a, b = v.alias("a"), v.alias("b")
        raw = dot(F.col("a.__vec"), F.col("b.__vec")) / (
            F.col("a.__n2") * F.col("b.__n2")
        )
        return (
            a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .where(raw >= threshold)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                grid6(raw).alias("cosine"),
            )
        )
    if dim is None:
        raise ValueError(
            "pass dim= (the embedding width); hyperplanes are plan-time "
            "literals, so the width cannot be inferred lazily"
        )
    planes = random_hyperplanes(dim, n_planes, seed)
    v = (
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__vec"))
        .withColumn("__bucket", hyperplane_bucket("__vec", planes))
        .withColumn("__n2", norm(F.col("__vec")))
    )
    from tempo_spark.pipeline.dedup import _bucket_capped_self_join

    return _bucket_capped_self_join(
        v,
        ("__bucket",),
        id_col,
        max_bucket_size,
        lambda joined: joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                dot(F.col("a.__vec"), F.col("b.__vec"))
                / (F.col("a.__n2") * F.col("b.__n2")),
                6,
            ).alias("cosine"),
        ).where(F.col("cosine") >= threshold),
    )


def embedding_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: Optional[int] = None,
    seed: int = 42,
    exact: bool = False,
    mode: str = "drop",
) -> DataFrame:
    """Incremental embedding-cosine near-dup dedup: find rows of ``new_df``
    whose embedding is within ``threshold`` cosine of ANY ``corpus_df``
    row — the semantic companion to ``near_dedup_against_corpus`` ("is
    today's batch an embedding-level duplicate of the corpus?"), closing
    the incremental-dedup family: exact text, fuzzy text, and now vectors.

    Scale shape: the SHARD broadcasts (ids + vectors + bucket keys — the
    small side by construction), the corpus pipeline is scan → bucket →
    broadcast join → cosine filter in one stage, and the corpus is never
    shuffled. ``exact=True`` drops the hyperplane bucketing (recall 1,
    corpus × shard compares — fine when the shard is tiny; also the
    oracle-checked path); the default bucketed path prunes compares by
    2^n_planes and inherits hyperplane-LSH recall, and needs ``dim``
    because planes are plan-time literals.

    ``mode``: ``"pairs"`` → verified ``(<id_col>, corpus_id, cosine)``;
    ``"drop"`` (default) → ``new_df`` minus flagged rows; ``"flag"`` →
    ``new_df`` + ``is_near_dup``. Both sides must share column names.
    """
    if mode not in ("pairs", "drop", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    # per-row norms hoisted (one interpreted fold per pair, not three)
    shard = new_df.select(
        F.col(id_col).alias("__new_id"), _as_double(F.col(vec_col)).alias("__va")
    ).withColumn("__na", norm(F.col("__va")))
    corpus = corpus_df.select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("__vb")
    ).withColumn("__nb", norm(F.col("__vb")))
    if exact:
        joined = corpus.join(F.broadcast(shard))
    else:
        if dim is None:
            raise ValueError(
                "pass dim= (the embedding width); hyperplanes are plan-time "
                "literals, so the width cannot be inferred lazily"
            )
        planes = random_hyperplanes(dim, n_planes, seed)
        shard = shard.withColumn("__bucket", hyperplane_bucket("__va", planes))
        corpus = corpus.withColumn(
            "__bucket", hyperplane_bucket("__vb", planes)
        )
        joined = corpus.join(F.broadcast(shard), "__bucket")
    # materialize the O(dim) cosine fold once — inlined into both the
    # filter and the rounded projection it would evaluate twice per pair
    # (HOF folds are not CSE'd)
    pairs = (
        joined.withColumn(
            "__raw",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .where(F.col("__raw") >= threshold)
        .select(
            F.col("__new_id").alias(id_col),
            "corpus_id",
            grid6("__raw").alias("cosine"),
        )
    )
    from tempo_spark.pipeline.dedup import _apply_dedup_mode

    return _apply_dedup_mode(new_df, pairs, id_col, mode)


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    threshold: float = 0.95,
    index: Optional[IVFIndex] = None,
    init: str = "kmeans",
    seed: int = 42,
    max_cluster_size: Optional[int] = None,
) -> DataFrame:
    """Cluster-scoped embedding near-dup pairs — the candidate generator of
    SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): a coarse k-means quantizer
    (the SAME ``IVFIndex`` machinery the ANN path uses — one quantizer can
    serve both) partitions the corpus into ``n_clusters`` cells and exact
    cosine runs only WITHIN a cell. Versus ``embedding_near_dups``'
    hyperplane buckets: k-means cells follow the data's density (hyperplanes
    are data-oblivious), the standard trade at web scale.

    Pass ``index=`` to reuse a trained quantizer (skips the k-means fit —
    the incremental path); ``max_cluster_size`` caps a degenerate hot cell
    via the shared star rewiring. Returns ``(id_a < id_b, cosine)``."""
    idx = (
        index
        if index is not None
        else IVFIndex.build(
            df, id_col, vec_col, n_centroids=n_clusters, seed=seed, init=init
        )
    )
    # hoist each row's norm ONCE: cosine per pair is otherwise THREE
    # interpreted HOF folds (dot + both norms — HOFs skip codegen and are
    # never CSE'd), and the fold is the entire within-cell compare cost
    # (measured ~3× on the cell-scoped verify). Same IEEE ops, same values.
    assigned = idx.assign(df).withColumn("__n2", norm(F.col("__vec")))
    from tempo_spark.pipeline.dedup import _bucket_capped_self_join

    def verify(joined: DataFrame) -> DataFrame:
        raw = dot(F.col("a.__vec"), F.col("b.__vec")) / (
            F.col("a.__n2") * F.col("b.__n2")
        )
        return (
            joined.withColumn("__raw", raw)
            .where(F.col("__raw") >= threshold)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                grid6("__raw").alias("cosine"),
            )
        )

    return _bucket_capped_self_join(assigned, ("cell",), id_col, max_cluster_size, verify)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    threshold: float = 0.95,
    index: Optional[IVFIndex] = None,
    init: str = "kmeans",
    seed: int = 42,
    keep: str = "far_centroid",
    mode: str = "drop",
    max_cluster_size: Optional[int] = None,
    max_iter: int = 20,
) -> DataFrame:
    """One-call SemDeDup: cluster-scoped cosine pairs → connected
    components → one survivor per semantic-duplicate group.

    ``keep`` picks the survivor: ``"far_centroid"`` (the paper's rule —
    the member with the LOWEST cosine to its cluster centroid survives,
    maximizing retained diversity; here via the distance surrogate
    ``-2·v·c + ||c||²``, ties broken by smallest id), or ``"min"``/
    ``"max"`` id (fully engine-neutral — the oracle-friendly choice).
    ``mode``: ``"drop"`` (default) → survivors only; ``"flag"`` → all rows
    + ``is_semantic_dup``; ``"pairs"`` → the verified pair relation.

    Scale shape: pairs are cell-local (never all-pairs), components run
    pointer-jumping over the pair edges only, and the per-member centroid
    distance is ONE broadcast join against the n_clusters-row centroid
    table — ``df`` itself is never re-shuffled."""
    if mode not in ("pairs", "drop", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    if keep not in ("far_centroid", "min", "max"):
        raise ValueError(f"unknown keep {keep!r}")
    idx = (
        index
        if index is not None
        else IVFIndex.build(
            df, id_col, vec_col, n_centroids=n_clusters, seed=seed, init=init
        )
    )
    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, threshold=threshold, index=idx,
        max_cluster_size=max_cluster_size,
    )
    if mode == "pairs":
        return pairs
    from tempo_spark.pipeline.components import connected_components

    comps = connected_components(pairs, max_iter=max_iter)
    if keep in ("min", "max"):
        agg = F.min("id") if keep == "min" else F.max("id")
        keepers = comps.groupBy("component").agg(agg.alias("__keep"))
        losers = (
            comps.join(keepers, "component")
            .where(F.col("id") != F.col("__keep"))
            .select(F.col("id").alias(id_col))
        )
    else:
        spark = df.sparkSession
        cents = _centers_frame(spark, idx.centers).select(
            F.explode("__cents").alias("__c")
        ).select(
            F.col("__c.cell").alias("cell"),
            F.col("__c.center").alias("__center"),
            F.col("__c.cnorm").alias("__cn2"),
        )
        members = (
            comps.join(
                idx.assign(df).select(
                    F.col(id_col).alias("id"), "__vec", "cell"
                ),
                "id",
            )
            .join(F.broadcast(cents), "cell")
            .withColumn(
                "__d",
                F.lit(-2.0) * dot(F.col("__vec"), F.col("__center"))
                + F.col("__cn2"),
            )
        )
        w = Window.partitionBy("component").orderBy(
            F.col("__d").desc(), F.col("id").asc()
        )
        losers = (
            members.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > 1)
            .select(F.col("id").alias(id_col))
        )
    if mode == "drop":
        return df.join(losers, id_col, "left_anti")
    return df.join(
        losers.withColumn("is_semantic_dup", F.lit(True)).distinct(),
        id_col,
        "left",
    ).withColumn(
        "is_semantic_dup", F.coalesce(F.col("is_semantic_dup"), F.lit(False))
    )


# --------------------------------------------------------------- product PQ


def _with_residual(
    df: DataFrame, centers: list[list[float]], vec_col: str
) -> DataFrame:
    """Replace ``vec_col`` with its coarse residual ``v − centers[cell]``
    (requires a ``cell`` column; NULL cell → NULL residual, which every
    downstream guard already excludes). The centroid table rides the
    broadcast 1-row centers frame — an O(1) ``element_at`` by cell, plan
    size flat in k (the ASSIGN_LITERAL_MAX lesson)."""
    if "cell" not in df.columns:
        raise ValueError(
            "residual encoding needs a 'cell' column — pass the ASSIGNED "
            "corpus (index.assigned / index.assign(df)), not raw vectors"
        )
    joined = df.crossJoin(
        F.broadcast(_centers_frame(df.sparkSession, centers))
    )
    cent = F.element_at(F.col("__cents"), F.col("cell") + 1).getField("center")
    return joined.withColumn(
        vec_col,
        F.zip_with(F.col(vec_col), cent, lambda a, b: a - b),
    ).drop("__cents")


def _train_pq_arrays(X, m, ksub, seed, max_iter, opq_iters):
    """Driver-side numpy PQ/OPQ fit over an (n, dim) float64 matrix —
    returns ``(codebooks, rotation_or_None)``. Shared by
    :meth:`PQCodec.train` (the Spark fit-sample path) and spark-free
    callers (the r12 ``opq`` gate trains on a deterministic in-memory
    fixture so oracle generation needs no session)."""
    import numpy as np

    dim = X.shape[1]
    dsub = dim // m

    def _fit_books(Y):
        return [
            _local_lloyd(
                [list(r) for r in Y[:, j * dsub : (j + 1) * dsub]],
                ksub, seed + j, max_iter,
            )
            for j in range(m)
        ]

    rotation = None
    if opq_iters > 0:
        import math as _math

        # parametric init (the OPQ paper's eigenvalue allocation):
        # eigendecompose the sample covariance and deal eigenvectors,
        # largest eigenvalue first, into the subspace with the
        # smallest log-variance product — starting from R = I the
        # alternating refinement sits in a local optimum and never
        # finds a cross-boundary rotation (measured: stuck at the
        # plain-PQ error; with this init it reaches the noise floor)
        Xc = X - X.mean(axis=0)
        w, V = np.linalg.eigh(Xc.T @ Xc / max(X.shape[0], 1))
        order = np.argsort(w)[::-1]
        w, V = w[order], V[:, order]
        buckets: list[list[int]] = [[] for _ in range(m)]
        logprod = [0.0] * m
        for i in range(len(w)):
            b = min(
                (bb for bb in range(m) if len(buckets[bb]) < dsub),
                key=lambda bb: logprod[bb],
            )
            buckets[b].append(i)
            logprod[b] += _math.log(max(float(w[i]), 1e-12))
        R = V[:, [i for bucket in buckets for i in bucket]]
        for _ in range(opq_iters):
            Xr = X @ R
            books = _fit_books(Xr)
            Xhat = np.empty_like(Xr)
            for j in range(m):
                C = np.asarray(books[j], dtype=np.float64)
                sub = Xr[:, j * dsub : (j + 1) * dsub]
                codes = np.argmin(
                    (C * C).sum(axis=1)[None, :] - 2.0 * (sub @ C.T),
                    axis=1,
                )
                Xhat[:, j * dsub : (j + 1) * dsub] = C[codes]
            # orthogonal Procrustes: R = argmin ‖XR − X̂‖_F over
            # orthonormal R, via SVD of XᵀX̂
            U, _, Vt = np.linalg.svd(X.T @ Xhat)
            R = U @ Vt
        X = X @ R
        rotation = [[float(x) for x in row] for row in R]
    return _fit_books(X), rotation


class PQCodec:
    """Product quantizer (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — the faiss ``IVFx,PQm`` storage recipe,
    beyond the reference's operator set): the vector splits into ``m``
    contiguous sub-vectors of width dim/m, each quantized independently
    against its own ``ksub``-centroid codebook, so a float corpus
    compresses ~dim·4/m× (m bytes per vector at ksub ≤ 256) and a query
    scores a stored code in O(m) table lookups instead of an O(dim) fold
    — the only way a 100 TB embedding corpus fits an online index.

    Spark shape, consistent with :class:`IVFIndex`'s three-regime rule:

    - **train**: driver-side seeded Lloyd per subspace over an id-sorted,
      hash-sampled fit set (``fit_sample_mod`` — the fit sample is the
      only data k-means ever sees; one collect, no MLlib job storm);
    - **encode**: per-row, no shuffle. Literal argmin expressions when
      the total plan weight m·ksub·dsub fits ``ASSIGN_LITERAL_MAX``
      (tiny codecs, tests), else ONE Arrow-batched numpy matmul kernel
      for all m subspaces (the sanctioned dense-linear-algebra Python
      class — same budget, same reasoning as ``_assign_cells``);
    - **ADC scoring**: the per-query lookup table (m·ksub distances) is
      computed once per QUERY row — queries are the small side by
      definition — and rides a broadcast join; the per-code score is an
      O(m) ``element_at`` fold, pure JVM. The corpus-sized path never
      enters Python and never shuffles.

    Distances are the squared-L2 surrogate ``d = Σ_j (‖c_j‖² − 2·q_j·c_j)``
    (the per-query constant ‖q‖² is rank-invariant and omitted, exactly
    like ``_cell_scores``). For cosine ranking, PQ-encode NORMALIZED
    vectors (``normalize_embeddings``): on the unit sphere L2 order ==
    cosine order.
    """

    def __init__(
        self,
        codebooks: list,
        residual: bool = False,
        rotation: Optional[list] = None,
    ):
        if not codebooks:
            raise ValueError("PQCodec needs at least one subspace codebook")
        ksub = len(codebooks[0])
        dsub = len(codebooks[0][0])
        for j, book in enumerate(codebooks):
            if len(book) != ksub or any(len(c) != dsub for c in book):
                raise ValueError(
                    f"subspace {j}: every codebook needs the same "
                    f"ksub×dsub shape ({ksub}×{dsub})"
                )
        self.codebooks = [
            [[float(x) for x in c] for c in book] for book in codebooks
        ]
        self.m = len(codebooks)
        self.ksub = ksub
        self.dsub = dsub
        self.dim = self.m * dsub
        #: trained over (v − coarse centroid) residuals — the faiss
        #: IVF,PQ default. A residual codec encodes/searches only with
        #: the coarse cell attached (see encode/ivf_pq_topk).
        self.residual = residual
        #: OPQ rotation (Ge et al. 2013): vectors are rotated by this
        #: dim×dim orthonormal matrix before sub-quantization (rotation
        #: preserves L2, so ADC scoring is unchanged — only encode and
        #: the query LUT rotate). None = plain PQ.
        if rotation is not None:
            if len(rotation) != self.dim or any(
                len(r) != self.dim for r in rotation
            ):
                raise ValueError(
                    f"rotation must be {self.dim}×{self.dim}"
                )
            rotation = [[float(x) for x in r] for r in rotation]
        self.rotation = rotation

    # ------------------------------------------------------------- train

    @staticmethod
    def train(
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        m: int = 8,
        ksub: int = 256,
        seed: int = 42,
        max_iter: int = 20,
        fit_sample_mod: Optional[int] = None,
        init: str = "kmeans",
        index: Optional["IVFIndex"] = None,
        opq_iters: int = 0,
    ) -> "PQCodec":
        """Fit the m sub-codebooks on an id-sorted (deterministic) fit
        sample; raises when the sample has fewer than ``ksub`` usable rows
        or the vector width is not divisible by ``m``.

        ``init="first"``: each sub-codebook is the sub-vectors of the
        ``ksub`` smallest-id usable rows, NO Lloyd iterations — fully
        replayable by any engine (an id-ordered LIMIT), the same
        cross-engine value-check device as ``IVFIndex.build(init=
        "first")``. Production keeps ``"kmeans"`` (k-means++-seeded
        driver Lloyd per subspace).

        ``index=``: train over RESIDUALS ``v − coarse_centroid(v)`` —
        the faiss ``IVFx,PQm`` default, which quantizes the (much
        tighter) within-cell displacement instead of the raw vector.
        The returned codec is branded ``residual=True`` and must encode/
        search with the cell attached (``encode(index.assigned, ...,
        index=index)`` / ``ivf_pq_topk`` picks the per-(query, probed
        cell) LUT path automatically).

        ``opq_iters > 0``: OPQ (Ge et al. 2013, "Optimized Product
        Quantization") — alternate between fitting the sub-codebooks on
        the ROTATED sample and solving the orthogonal Procrustes problem
        for the rotation that best aligns the sample with its
        reconstruction; an orthonormal rotation preserves L2, so ADC
        scoring is untouched while sub-quantization error drops whenever
        variance is spread unevenly/correlated across the natural
        subspaces. All driver-side numpy over the fit sample (the same
        sanctioned class as the Lloyd fits); encode and the query LUT
        then ALWAYS take the Arrow kernels (a dim×dim rotation per row is
        dense linear algebra — no literal path). Incompatible with
        ``init="first"`` (a rotated codec is not SQL-replayable)."""
        proj = df.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__vec")
        )
        if index is not None:
            # index.assign references ITS OWN column names — rename to
            # match so train(id_col=, vec_col=) keeps working with a
            # default-named index (r9 review)
            assigned = index.assign(
                df.select(
                    F.col(id_col).alias(index.id_col),
                    F.col(vec_col).alias(index.vec_col),
                )
            ).withColumnRenamed(index.id_col, "__id")
            proj = _with_residual(assigned, index.centers, "__vec").select(
                "__id", "__vec"
            )
        fit = proj
        if fit_sample_mod is not None and fit_sample_mod > 1:
            fit = proj.where(
                F.pmod(F.xxhash64(F.col("__id")), F.lit(fit_sample_mod)) == 0
            )
        rows = _bounded_fit_collect(
            fit.where(F.col("__vec").isNotNull())
            .orderBy("__id")
            .select("__vec"),
            "PQCodec.train",
        )
        import collections

        import numpy as np

        vecs = [r["__vec"] for r in rows]
        if not vecs:
            raise ValueError("PQ fit set is empty")
        dim = collections.Counter(len(v) for v in vecs).most_common(1)[0][0]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        X = np.asarray([v for v in vecs if len(v) == dim], dtype=np.float64)
        if X.size:
            X = X[np.isfinite(X).all(axis=1)]
        dsub = dim // m
        if init == "first":
            if opq_iters > 0:
                raise ValueError(
                    "opq_iters is incompatible with init='first' (a "
                    "rotated codec is not cross-engine replayable)"
                )
            if X.shape[0] < ksub:
                raise ValueError(
                    f"PQ fit set has {X.shape[0]} usable rows < ksub={ksub}"
                )
            return PQCodec(
                [
                    [
                        [float(x) for x in X[i, j * dsub : (j + 1) * dsub]]
                        for i in range(ksub)
                    ]
                    for j in range(m)
                ],
                residual=index is not None,
            )
        if init != "kmeans":
            raise ValueError(f"unknown init {init!r}; use 'kmeans' or 'first'")
        books, rotation = _train_pq_arrays(
            X, m, ksub, seed, max_iter, opq_iters
        )
        return PQCodec(books, residual=index is not None, rotation=rotation)

    # ------------------------------------------------------------ encode

    def _literal_ops(self) -> int:
        return self.m * self.ksub * self.dsub

    def _vec_ok(self, vec: Column) -> Column:
        """A usable vector: non-null, right width, NO null/NaN elements —
        a null element otherwise nulls every literal-path score and the
        null-first struct sort silently encodes codeword 0 (the r6 IVF
        cell-0 bug class); the Arrow path's NaN scores would argmin to
        index 0 the same way. Both paths NULL such rows instead."""
        return (
            vec.isNotNull()
            & (F.size(vec) == self.dim)
            & ~F.exists(vec, lambda x: x.isNull() | F.isnan(x))
        )

    def encode(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        out: str = "pq_code",
        index: Optional["IVFIndex"] = None,
    ) -> DataFrame:
        """Append ``out`` = array<int> of m codes (NULL for null,
        wrong-width, or null/NaN-element vectors — every path). Zero
        shuffle; every input column passes through UNCHANGED (the
        residual is computed in a staging column and dropped — clobbering
        ``vec_col`` would silently corrupt the vector column in the
        persisted codes frame, r9 review). A ``residual=True`` codec
        requires ``index=`` and a ``cell`` column on ``df`` (encode the
        ASSIGNED corpus): the encoded value is ``v − centers[cell]``; a
        flat codec REJECTS ``index=`` rather than silently ignoring a
        config mismatch (the bloom m/k lesson)."""
        if self.residual:
            if index is None:
                raise ValueError(
                    "this codec was trained on residuals — pass index= "
                    "and encode the assigned corpus"
                )
            df = df.withColumn("__pq_res", _as_double(F.col(vec_col)))
            df = _with_residual(df, index.centers, "__pq_res")
            src = "__pq_res"
        elif index is not None:
            raise ValueError(
                "index= passed but this codec was trained WITHOUT "
                "residuals — retrain with PQCodec.train(index=...) or "
                "drop the argument (silently ignoring it would encode "
                "raw vectors under a residual-looking call)"
            )
        else:
            src = vec_col
        vec = _as_double(F.col(src))
        valid = self._vec_ok(vec)
        if self._literal_ops() <= ASSIGN_LITERAL_MAX and self.rotation is None:
            codes = []
            vec_sql = f"cast({ident(src)} as array<double>)"
            for j, book in enumerate(self.codebooks):
                sub = f"slice({vec_sql}, {j * self.dsub + 1}, {self.dsub})"
                codes.append(
                    F.element_at(
                        F.array_sort(_cell_scores(sub, book)), 1
                    ).getField("cell")
                )
            res = df.withColumn(out, F.when(valid, F.array(*codes)))
        else:
            # OPQ codecs always take the kernel: a dim×dim rotation per
            # row is dense linear algebra, not an expression
            res = df.withColumn(out, self._arrow_encode_udf()(vec))
        return res.drop("__pq_res") if self.residual else res

    def _arrow_encode_udf(self):
        """All-m-subspaces argmin as one numpy kernel per Arrow batch:
        reshape (B, m, dsub), one matmul per subspace against its
        codebook. Same surrogate and first-minimum tie rule as the
        literal path (float64 matmul accumulation order may flip ~1-ulp
        ties — a codeword-boundary wobble, same caveat as
        ``_arrow_assign_udf``)."""
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        C = [np.asarray(b, dtype=np.float64) for b in self.codebooks]
        cn2 = [(c * c).sum(axis=1) for c in C]
        m, dsub, dim = self.m, self.dsub, self.dim
        R = (
            np.asarray(self.rotation, dtype=np.float64)
            if self.rotation is not None
            else None
        )

        @pandas_udf("array<int>")
        def codes_of(vs: pd.Series) -> pd.Series:
            ok = vs.map(lambda v: v is not None and len(v) == dim)
            out = pd.Series([None] * len(vs), dtype="object")
            if ok.any():
                M = np.stack(vs[ok].map(np.asarray).to_numpy()).astype(
                    np.float64
                )
                # null/NaN elements arrive as NaN — NULL those rows (the
                # expression path's _vec_ok rule) instead of letting
                # argmin funnel them into codeword 0
                finite = np.isfinite(M).all(axis=1)
                M = M[finite]
                idx = np.flatnonzero(ok.to_numpy())[finite]
                if R is not None:
                    M = M @ R
                codes = np.empty((M.shape[0], m), dtype="int32")
                for j in range(m):
                    sub = M[:, j * dsub : (j + 1) * dsub]
                    scores = -2.0 * (sub @ C[j].T) + cn2[j]
                    codes[:, j] = np.argmin(scores, axis=1)
                out[idx] = [[int(x) for x in row] for row in codes]
            return out

        return codes_of

    def reconstruct(
        self, df: DataFrame, code_col: str = "pq_code", out: str = "pq_vec"
    ) -> DataFrame:
        """Decode codes back to their centroid concatenation (the PQ
        approximation of the original vector) — literal expressions; a
        diagnostics/test surface, not a hot path. Rotated (OPQ) codecs
        decode into ROTATED space; unrotating distributes a dim×dim
        matvec per row for a diagnostics path, so it is refused here —
        decode driver-side with numpy (codebooks + rotationᵀ) instead."""
        if self.rotation is not None:
            raise ValueError(
                "reconstruct() on an OPQ codec would return rotated-space "
                "vectors — decode driver-side with the codebooks and "
                "rotation transpose instead"
            )
        code = F.col(code_col)
        parts = []
        for j, book in enumerate(self.codebooks):
            book_arr = F.expr(
                "array("
                + ",".join(
                    "array(" + ",".join(double_lit(x) for x in c) + ")"
                    for c in book
                )
                + ")"
            )
            parts.append(
                F.element_at(book_arr, F.element_at(code, j + 1) + 1)
            )
        return df.withColumn(
            out, F.when(code.isNotNull(), F.flatten(F.array(*parts)))
        )

    # --------------------------------------------------------------- ADC

    def _lut_expr(self, qvec_sql: str) -> Column:
        """Flat array<double> of length m·ksub: LUT[j·ksub + i] =
        ‖c_ji‖² − 2·q_j·c_ji (the shared :func:`_center_term_sql`),
        literal-expression path — built as ONE parsed expression (the
        m·ksub·dsub literal tree would otherwise cost one py4j round trip
        per element; the plan-build-latency discipline)."""
        entries = []
        for j, book in enumerate(self.codebooks):
            sub = f"slice({qvec_sql}, {j * self.dsub + 1}, {self.dsub})"
            for c in book:
                entries.append(_center_term_sql(sub, c))
        return F.expr(f"array({','.join(entries)})")

    def _arrow_lut_udf(self):
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        C = [np.asarray(b, dtype=np.float64) for b in self.codebooks]
        cn2 = [(c * c).sum(axis=1) for c in C]
        m, dsub, dim = self.m, self.dsub, self.dim
        R = (
            np.asarray(self.rotation, dtype=np.float64)
            if self.rotation is not None
            else None
        )

        @pandas_udf("array<double>")
        def lut_of(vs: pd.Series) -> pd.Series:
            ok = vs.map(lambda v: v is not None and len(v) == dim)
            out = pd.Series([None] * len(vs), dtype="object")
            if ok.any():
                M = np.stack(vs[ok].map(np.asarray).to_numpy()).astype(
                    np.float64
                )
                # NULL the NaN-poisoned queries (null/NaN elements) like
                # the expression path's _vec_ok — a NaN LUT would rank
                # arbitrarily instead of excluding the query
                finite = np.isfinite(M).all(axis=1)
                M = M[finite]
                idx = np.flatnonzero(ok.to_numpy())[finite]
                if R is not None:
                    M = M @ R
                luts = np.concatenate(
                    [
                        -2.0 * (M[:, j * dsub : (j + 1) * dsub] @ C[j].T)
                        + cn2[j]
                        for j in range(m)
                    ],
                    axis=1,
                )
                out[idx] = [[float(x) for x in row] for row in luts]
            return out

        return lut_of

    def with_lut(
        self, queries: DataFrame, query_vec: str = "embedding",
        out: str = "__pq_lut",
    ) -> DataFrame:
        vec = _as_double(F.col(query_vec))
        if self._literal_ops() <= ASSIGN_LITERAL_MAX and self.rotation is None:
            # _vec_ok, not a bare width check: a query vector with a NULL
            # element would null every LUT entry while F.array stays
            # non-null, slip the isNotNull guard downstream, and its NULL
            # adc_dist would sort FIRST — garbage ranked above real
            # matches (the Arrow path NaNs would sort last: the two paths
            # must agree by both EXCLUDING such queries)
            return queries.withColumn(
                out,
                F.when(
                    self._vec_ok(vec),
                    self._lut_expr(f"cast({ident(query_vec)} as array<double>)"),
                ),
            )
        return queries.withColumn(out, self._arrow_lut_udf()(vec))

    def adc_score(self, lut: Column, code: Column) -> Column:
        """O(m) JVM sum: Σ_j LUT[j·ksub + code_j] — the ADC distance
        surrogate (smaller = nearer). UNROLLED into m ``element_at``
        terms rather than an ``aggregate`` fold: HOF lambdas run
        interpreted per element while the unrolled sum stays inside
        whole-stage codegen (m is a codec constant, so the plan grows by
        just 2m tiny nodes; the ``(0.0 + t₀) + t₁ …`` left-fold order is
        preserved bit-exactly for the cross-engine gate)."""
        ksub = self.ksub
        score: Column = F.lit(0.0)
        for j in range(self.m):
            score = score + F.element_at(
                lut, F.lit(j * ksub) + F.element_at(code, j + 1) + 1
            )
        return score

    def adc_topk(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        code_col: str = "pq_code",
        query_id: str = "query_id",
        query_vec: str = "embedding",
        k: int = 5,
        rerank_k: Optional[int] = None,
        vectors_df: Optional[DataFrame] = None,
        vectors_vec_col: str = "embedding",
    ) -> DataFrame:
        """Asymmetric-distance top-k of every query against a PQ-encoded
        corpus: broadcast the (queries × LUT) side, score every code with
        the O(m) fold, keep k per query. Returns
        (query_id, id, adc_dist, rank) — ``adc_dist`` is the surrogate
        (monotone in true L2 given the codes; add ‖q‖² per query for the
        absolute value).

        ``rerank_k=`` enables the faiss ``IndexRefineFlat`` second stage:
        take ``rerank_k`` ADC candidates, then :func:`refine_topk` them
        down to ``k`` by TRUE squared L2 against ``vectors_df`` (the raw
        corpus, required). Output becomes (query_id, id, exact_dist,
        rank)."""
        if rerank_k is not None:
            if vectors_df is None:
                raise ValueError(
                    "rerank_k requires vectors_df (the raw corpus "
                    "vectors to refine against)"
                )
            if rerank_k < k:
                raise ValueError(
                    f"rerank_k ({rerank_k}) must be >= k ({k})"
                )
        if self.residual:
            raise ValueError(
                "residual codecs score per probed coarse cell — use "
                "ivf_pq_topk (a flat ADC scan has no cell to residualize "
                "against)"
            )
        q = self._query_lut_side(queries, query_id, query_vec)
        scored = (
            codes_df.where(F.col(code_col).isNotNull())
            .crossJoin(F.broadcast(q))
            .select(
                F.col("__qid").alias(query_id),
                F.col(id_col),
                self.adc_score(F.col("__pq_lut"), F.col(code_col)).alias(
                    "adc_dist"
                ),
            )
        )
        if rerank_k is not None:
            cands = _adc_rank_topk(scored, query_id, id_col, rerank_k)
            return refine_topk(
                cands,
                vectors_df,
                queries,
                k=k,
                query_id=query_id,
                id_col=id_col,
                vec_col=vectors_vec_col,
                query_vec=query_vec,
            )
        return _adc_rank_topk(scored, query_id, id_col, k)

    def _query_lut_side(
        self, queries: DataFrame, query_id: str, query_vec: str,
        prepare=None,
    ) -> DataFrame:
        """The broadcastable (query, LUT) side shared by ``adc_topk`` and
        :func:`ivf_pq_topk` (one definition so a guard fix cannot land in
        one and be forgotten in the other). ``prepare`` optionally
        transforms the (``__qid``, ``__qvec``) frame BEFORE the LUT —
        the residual path's probe-explode + residualize step."""
        q = queries.select(
            F.col(query_id).alias("__qid"),
            _as_double(F.col(query_vec)).alias("__qvec"),
        )
        if prepare is not None:
            q = prepare(q)
        return self.with_lut(q, "__qvec").where(F.col("__pq_lut").isNotNull())

    # ---------------------------------------------------------- save/load

    def save(self, spark, path: str, mode: str = "overwrite") -> None:
        rows = [
            (j, i, c, self.residual)
            for j, book in enumerate(self.codebooks)
            for i, c in enumerate(book)
        ]
        if self.rotation is not None:
            # rotation rides the same table as sub = -1 marker rows
            rows += [
                (-1, i, r, self.residual)
                for i, r in enumerate(self.rotation)
            ]
        spark.createDataFrame(
            rows, "sub int, code int, center array<double>, residual boolean"
        ).coalesce(1).write.mode(mode).parquet(path)

    @staticmethod
    def load(spark, path: str) -> "PQCodec":
        rows = spark.read.parquet(path).collect()
        books: dict = {}
        rot: dict = {}
        for r in rows:
            if r.sub == -1:
                rot[r.code] = list(r.center)
            else:
                books.setdefault(r.sub, {})[r.code] = list(r.center)
        residual = bool(getattr(rows[0], "residual", False)) if rows else False
        return PQCodec(
            [
                [books[j][i] for i in sorted(books[j])]
                for j in sorted(books)
            ],
            residual=residual,
            rotation=[rot[i] for i in sorted(rot)] if rot else None,
        )


def _adc_rank_topk(
    scored: DataFrame, query_id: str, id_col: str, k: int
) -> DataFrame:
    """Per-query ascending-distance top-k, shared by ``PQCodec.adc_topk``
    and :func:`ivf_pq_topk`. ``asc_nulls_last`` defensively: a NULL
    distance (only possible if a caller bypasses the _vec_ok guards)
    must never outrank a real match."""
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col(id_col)
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .withColumnRenamed("__rank", "rank")
    )


def ivf_pq_topk(
    index: IVFIndex,
    codec: PQCodec,
    queries: DataFrame,
    codes_df: Optional[DataFrame] = None,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    rerank_k: Optional[int] = None,
    vectors_df: Optional[DataFrame] = None,
    vectors_vec_col: Optional[str] = None,
) -> DataFrame:
    """IVF-PQ search (the full faiss ``IVFx,PQm`` plan): probe the
    ``nprobe`` nearest coarse cells, ADC-score ONLY those cells' codes.

    ``rerank_k=`` adds the faiss refine stage (``IVFx,PQm,RFlat``): the
    ``rerank_k`` ADC candidates are re-ranked to ``k`` by TRUE squared L2
    via :func:`refine_topk`. ``vectors_df`` defaults to the index's own
    assigned corpus (raw ``__vec`` vectors ride it already, so no extra
    scan source is needed); pass the saved cell-partitioned layout in
    production. Output becomes (query_id, id, exact_dist, rank).

    ``codes_df`` MUST carry the coarse ``cell`` column — i.e. derive it
    from the index's assigned corpus (``codec.encode(index.assigned)`` or
    a ``save``d cell-partitioned layout, where the cell join prunes
    partitions), not from a bare ``codec.encode(raw_corpus)``; pass a
    persisted/parquet-backed frame in production so encoding happens
    once, not per query batch.

    A ``residual=True`` codec (trained with ``PQCodec.train(index=...)``,
    the faiss IVF,PQ default) looks up per-(query, probed cell) LUTs over
    ``q − centers[cell]`` — nprobe small LUTs per query instead of one,
    still entirely on the broadcast side — and its ``adc_dist`` INCLUDES
    the coarse term ``‖q − c_cell‖²``: the LUT surrogate alone drops a
    term that VARIES per probed cell, so cross-cell ranking at nprobe > 1
    would prefer a far cell's candidates (faiss adds the same coarse
    distance); with it, ``adc_dist`` is the TRUE squared L2 to the
    reconstruction ``c_cell + r̂``. The flat path's omitted ``‖q‖²`` is
    constant per query — rank-safe — and stays omitted."""
    if codes_df is None:
        codes_df = codec.encode(
            index.assigned, vec_col="__vec",
            index=index if codec.residual else None,
        )
    if "cell" not in codes_df.columns:
        raise ValueError(
            "codes_df has no 'cell' column — IVF-PQ probes coarse cells, "
            "so encode the ASSIGNED corpus: codec.encode(index.assigned) "
            "(or reload a saved cell-partitioned index), not "
            "codec.encode(raw_corpus)"
        )
    if codec.residual:
        # probe FIRST (one row per (query, cell)), residualize, and carry
        # the coarse term ‖q − c_cell‖² alongside the LUT
        def _probe_and_residualize(q: DataFrame) -> DataFrame:
            q = index._with_probe_cells(q, "__qvec", nprobe)
            q = _with_residual(q, index.centers, "__qvec")
            return q.withColumn(
                "__pq_coarse",
                F.aggregate(
                    F.col("__qvec"), F.lit(0.0), lambda acc, x: acc + x * x
                ),
            )

        q = codec._query_lut_side(
            queries, query_id, query_vec, prepare=_probe_and_residualize
        )
        coarse = F.col("__pq_coarse")
    else:
        q = codec._query_lut_side(queries, query_id, query_vec)
        q = index._with_probe_cells(q, "__qvec", nprobe)
        coarse = F.lit(0.0)
    scored = (
        codes_df.where(F.col("pq_code").isNotNull())
        .join(F.broadcast(q), "cell")
        .select(
            F.col("__qid").alias(query_id),
            F.col(index.id_col),
            (
                codec.adc_score(F.col("__pq_lut"), F.col("pq_code")) + coarse
            ).alias("adc_dist"),
        )
    )
    if rerank_k is not None:
        if rerank_k < k:
            raise ValueError(f"rerank_k ({rerank_k}) must be >= k ({k})")
        if vectors_df is None:
            vectors_df, vectors_vec_col = index.assigned, "__vec"
        elif vectors_vec_col is None:
            vectors_vec_col = index.vec_col
        cands = _adc_rank_topk(scored, query_id, index.id_col, rerank_k)
        return refine_topk(
            cands,
            vectors_df,
            queries,
            k=k,
            query_id=query_id,
            id_col=index.id_col,
            vec_col=vectors_vec_col,
            query_vec=query_vec,
        )
    return _adc_rank_topk(scored, query_id, index.id_col, k)


def refine_topk(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ANN candidate set (the faiss
    ``IndexRefineFlat`` recipe, faiss/IndexRefine.h semantics): join the
    candidates back to their RAW vectors and keep the ``k`` nearest by
    TRUE squared L2. Compresses away quantization error at the top of
    the list — run any coarse searcher with ``rerank_k > k`` candidates
    and refine down to ``k``.

    Plan shape (the part that must survive 100 TB): ``candidates`` and
    ``queries`` are both query-sized (n_queries × rerank_k rows), so the
    pair table broadcasts into ONE scan of the corpus ``vectors`` — the
    corpus is never shuffled and only candidate ids' vectors are read.
    The exact distance is a zip_with/aggregate fold — interpreted, but
    over only n_queries × rerank_k rows, never the corpus. For a rotated
    (OPQ) codec the rerank still uses the RAW vectors: the rotation is
    orthonormal, so L2 distances are identical in either basis.

    Left-fold op order ``((0 + d₀²) + d₁²) + …`` is what DuckDB's
    ``list_reduce(list_prepend(0.0, …))`` reproduces — the cross-engine
    gate ranks on the raw fold and emits the hardened-rounded value.

    Returns (query_id, id, exact_dist, rank) with rank 1..k per query by
    (exact_dist asc NULLS LAST, id).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # eqNullSafe on a renamed key (the _bm25_rank __qid idiom): a NULL
    # query id is a legitimate group downstream (_adc_rank_topk windows
    # partition it), so a plain equi-join here would silently drop its
    # candidates from the reranked output only when rerank is enabled
    pairs = (
        candidates.select(F.col(query_id), F.col(id_col))
        .join(
            queries.select(
                F.col(query_id).alias("__rr_qid"),
                _as_double(F.col(query_vec)).alias("__rr_qvec"),
            ),
            F.col(query_id).eqNullSafe(F.col("__rr_qid")),
        )
        .drop("__rr_qid")
    )
    corpus = vectors.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__rr_vec")
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("__rr_qvec"),
            F.col("__rr_vec"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = corpus.join(F.broadcast(pairs), id_col).select(
        F.col(query_id), F.col(id_col), dist.alias("exact_dist")
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("exact_dist").asc_nulls_last(), F.col(id_col)
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .withColumnRenamed("__rank", "rank")
    )
