"""Full-text retrieval over a document corpus: Okapi BM25 top-k.

The training-data-pipeline use cases: benchmark/eval-set retrieval ("which
corpus documents would a search engine surface for this eval question" —
a retrieval-based contamination signal complementing the n-gram overlap
in pipeline/dedup.py), nearest-neighbor text lookup for RAG-style data
curation, and corpus QA ("show me what matches X").

Spark-first shape (no reference counterpart — the reference engine has no
text retrieval; formula follows Robertson & Zaragoza 2009, the Lucene
``(k1, b)`` practical variant with the +1-smoothed non-negative idf):

- the QUERY side is small by contract (a benchmark, an eval set, a hand
  list) — its distinct term vocabulary BROADCASTS into the corpus token
  explode, so the per-(doc, term) aggregation only ever shuffles tokens
  that can actually score (a selective query set shuffles a tiny
  fraction of the token stream; map-side combine collapses repeats);
- document frequency reuses the SAME (doc, term) exchange via the
  vacuously-true ``tf > 0`` pruning guard (see tfidf_keywords — AQE
  ReuseExchange collapses the two branches);
- corpus length stats (N, avgdl) are a 1-row broadcast aggregate over a
  column-pruned (id, text) pass; doc lengths join the matched tf rows by
  broadcasting the MATCHED side into the length scan — the corpus is
  never shuffled whole.

Ranking is deterministic cross-engine: the float score ORDERS quantized
to 1e-6 with a fully discrete (matched terms, summed tf, id) tiebreak, so
``ln()`` last-ulp differences between engines cannot flip a rank (the
idiom proven by tfidf_keywords).
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tempo_spark.functions.sql import grid6_key, ident
from tempo_spark.pipeline.text import tokens_col


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    broadcast_matched: bool = True,
    require_all_terms: bool = False,
) -> DataFrame:
    """Top-``k`` corpus documents per query by Okapi BM25.

    ``require_all_terms=True`` switches to AND semantics: only documents
    containing EVERY query term rank (conjunctive retrieval — exact-match
    lookup, strict contamination probes); the default OR semantics ranks
    any partial match.

    ``broadcast_matched``: the matched (doc, term, tf, df_t) frame is
    one row per matched doc × matched term — small for SELECTIVE
    queries, but a single stopword-grade query term ("the") matches
    nearly every document and the frame approaches corpus size. Pass
    ``False`` for hot-term query sets: the doc-length join becomes an
    id-keyed shuffle join instead of a driver-collected broadcast (which
    would hit the broadcast size limit / OOM at scale). The per-query
    fan-out always stays on the streaming side of that join.

    ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))`` (the Lucene
    smoothed variant — always ≥ 0, so a term in >half the corpus dampens
    rather than inverts). Query-side term repetition is ignored (the
    standard short-query simplification; each distinct query term
    contributes once).

    Returns ``(query_id, doc_id, score, matched, tf_sum, rank)`` — rank
    1..k per query by (1e-6-quantized score DESC, matched DESC, tf_sum
    DESC, doc_id ASC); ``matched`` = distinct query terms found,
    ``tf_sum`` = their summed term frequency. Queries with no matching
    document emit nothing (a retrieval miss, not a zero-score row).

    Tokenization is whitespace + optional lowercasing — identical to the
    signals in pipeline/text.py; normalize the corpus first
    (normalize_text) for punctuation-insensitive matching.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    toks = tokens_col(F.col(text_col))
    if lowercase:
        toks = F.transform(toks, F.lower)

    # (query, term) pairs — distinct per the short-query simplification
    qterms = _query_terms(queries, query_id_col, query_text_col, lowercase)
    qvocab = qterms.select("term").distinct()

    # matched per-(doc, term) tf: the broadcast vocabulary semi-join runs
    # BEFORE the shuffle, so only scoring tokens are ever aggregated.
    # explode_outer + post-Generate filter per the plan-pushdown gotcha.
    tf = (
        corpus.select(F.col(id_col), F.explode_outer(toks).alias("term"))
        .where(F.col("term").isNotNull())
        .join(F.broadcast(qvocab), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency over the same exchange (the tf > 0 guard keeps
    # the subtree bit-identical below the (id, term) exchange so AQE
    # ReuseExchange collapses the two branches — see tfidf_keywords)
    dfreq = (
        tf.where(F.col("tf") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )

    # corpus stats: 1-row broadcast (N counts ALL rows; avgdl averages
    # over docs with a tokenizable text, matching the oracle replay)
    dl_df = corpus.select(
        F.col(id_col), F.size(toks).alias("__dl")
    )
    stats = F.broadcast(
        dl_df.agg(
            F.count(F.lit(1)).alias("__n_docs"),
            F.avg("__dl").alias("__avgdl"),
        )
    )

    # per-(query, doc, term) contribution: for selective queries the
    # matched (doc, term, tf, df_t) frame broadcasts into the doc-length
    # scan so the corpus never shuffles; the query fan-out (join with the
    # broadcast qterms) happens AFTER that join, on the streaming side,
    # so the fan-out rows flow straight into the rank's partial
    # aggregation and are never collected. (r12: the former shape
    # broadcast tf⋈dfreq⋈qterms — matched × queries-per-term rows, 16×
    # larger on whole-document query sets — b31 exec 2.34 → 1.78 s.
    # r13: __idf/__contrib hoisted ABOVE the fan-out join — they are
    # query-independent, so each (doc, term) pays the ln()/division
    # chain once instead of once per matching query; see _with_contrib.)
    matched = tf.join(F.broadcast(dfreq), "term")
    if broadcast_matched:
        matched = F.broadcast(matched)
    per_term = _with_contrib(
        dl_df.join(matched, id_col).crossJoin(stats), k1, b
    ).join(F.broadcast(qterms), "term")
    return _bm25_rank(
        per_term, id_col, query_id_col, k,
        require_all_from=qterms if require_all_terms else None,
    )


def _with_contrib(per_doc_term: DataFrame, k1: float, b: float) -> DataFrame:
    """``__idf`` + ``__contrib`` over per-(doc, term) rows carrying
    (``tf``, ``df_t``, ``__dl``, ``__n_docs``, ``__avgdl``).

    Both are QUERY-independent, so both retrieval paths apply this BEFORE
    the per-query fan-out join (guide §1.2 per-task work): each
    (doc, term) pays the ln()/division chain once instead of once per
    matching query — a whole-document query set fans every (doc, term)
    out ~|queries| ways (b31's 20 whole-doc queries). The broadcast
    fan-out join only COPIES the finished doubles and preserves
    stream-side row order with consecutive build-side matches, so the
    per-(query, doc) float sum order — and every output bit — is
    unchanged (pinned old-vs-new in TestBM25ContribHoist)."""
    return per_doc_term.withColumn(
        "__idf",
        F.log(
            F.lit(1.0)
            + (F.col("__n_docs") - F.col("df_t") + F.lit(0.5))
            / (F.col("df_t") + F.lit(0.5))
        ),
    ).withColumn(
        "__contrib",
        F.col("__idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("__dl") / F.col("__avgdl")
            )
        ),
    )


def _bm25_rank(
    per_term: DataFrame,
    id_col: str,
    query_id_col: str,
    k: int,
    require_all_from: Optional[DataFrame] = None,
) -> DataFrame:
    """Shared BM25 scorer: per-(query, doc, term) rows carrying
    (``__qid``, id, ``tf``, ``__contrib`` — precomputed by
    :func:`_with_contrib` BEFORE the per-query fan-out) → summed per
    (query, doc), ranked top-k. One definition so the ad-hoc and indexed
    paths cannot drift (and the cross-engine gate pins one formula)."""
    agged = per_term.groupBy("__qid", id_col).agg(
        F.sum("__contrib").alias("score"),
        F.count(F.lit(1)).alias("matched"),
        F.sum("tf").alias("tf_sum"),
    )
    if require_all_from is not None:
        # AND semantics: keep only docs matching EVERY query term — the
        # per-query term count is query-sized, always broadcast.
        # eqNullSafe on the renamed key: a NULL query_id is a query like
        # any other, and a plain equi-join would silently drop it from
        # the conjunctive path while the OR path ranks it
        need = F.broadcast(
            require_all_from.groupBy("__qid").agg(
                F.count(F.lit(1)).alias("__need")
            ).select(F.col("__qid").alias("__nqid"), "__need")
        )
        agged = (
            agged.join(need, F.col("__qid").eqNullSafe(F.col("__nqid")))
            .where(F.col("matched") == F.col("__need"))
            .drop("__need", "__nqid")
        )
    score_q = grid6_key("score")
    w = Window.partitionBy("__qid").orderBy(
        score_q.desc(),
        F.col("matched").desc(),
        F.col("tf_sum").desc(),
        F.col(id_col).asc(),
    )
    return (
        agged.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            "score",
            "matched",
            "tf_sum",
            "rank",
        )
    )


def _query_terms(
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    lowercase: bool,
) -> DataFrame:
    """Distinct (``__qid``, term) pairs of a (small) query frame."""
    qtoks = tokens_col(F.col(query_text_col))
    if lowercase:
        qtoks = F.transform(qtoks, F.lower)
    return (
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.explode_outer(qtoks).alias("term"),
        )
        .where(F.col("term").isNotNull())
        .distinct()
    )


class BM25Index:
    """Materialized BM25 index — the "tokenize once, query many" shape.

    :func:`bm25_topk` re-tokenizes the corpus on every call; an index
    build pays the full-vocabulary (doc, term) shuffle ONCE and persists

    - ``postings`` (id, term, tf, dl): per-(doc, term) frequency with the
      doc length riding the same aggregation (no join back),
    - ``dfreq`` (term, df_t): document frequencies for the whole
      vocabulary,
    - ``stats``: a 1-row (n_docs, n_dl, sum_dl[, lowercase]) frame —
      ADDITIVE components rather than a precomputed average, so
      :meth:`add` merges shards exactly.

    ``topk`` then touches no text at all: the query vocabulary broadcasts
    into the postings scan (map-side prune before any shuffle), df_t is
    RESTRICTED to the query vocabulary before being broadcast (the full
    vocabulary frame is web-scale; the restricted one is query-sized),
    and scoring reuses the exact :func:`_bm25_rank` the ad-hoc path uses.

    At scale, write the postings sorted/partitioned so the term prune
    becomes a file skip: ``save()`` repartitions postings by term hash
    into ``n_files`` parquet files — not term-value partitioning (a
    directory per term would be millions of dirs) but enough for row-group
    term statistics to prune most of the scan.
    """

    def __init__(
        self,
        postings: DataFrame,
        dfreq: DataFrame,
        stats: DataFrame,
        id_col: str = "doc_id",
        lowercase: bool = True,
    ):
        self.postings = postings
        self.dfreq = dfreq
        self.stats = stats
        self.id_col = id_col
        self.lowercase = lowercase

    @staticmethod
    def build(
        corpus: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        lowercase: bool = True,
    ) -> "BM25Index":
        toks = tokens_col(F.col(text_col))
        if lowercase:
            toks = F.transform(toks, F.lower)
        # dl rides the explode row so the ONE (id, term) aggregation
        # carries it through — no corpus-sized join back
        exploded = corpus.select(
            F.col(id_col),
            F.size(toks).alias("__dl"),
            F.explode_outer(toks).alias("term"),
        ).where(F.col("term").isNotNull())
        postings = exploded.groupBy(id_col, "term").agg(
            F.count(F.lit(1)).alias("tf"),
            F.max("__dl").alias("dl"),
        )
        dfreq = (
            postings.where(F.col("tf") > 0)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df_t"))
        )
        # additive components (not a precomputed avgdl): incremental
        # ``add()`` can then merge stats exactly — n_dl/sum_dl cover docs
        # whose text tokenizes (null text has a NULL dl and is excluded
        # from the average, matching the ad-hoc path's F.avg)
        stats = corpus.select(
            F.col(id_col), F.size(toks).alias("__dl")
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dl").alias("n_dl"),
            F.coalesce(F.sum("__dl"), F.lit(0)).alias("sum_dl"),
        )
        return BM25Index(postings, dfreq, stats, id_col, lowercase)

    def add(self, new_corpus: DataFrame, text_col: str = "text") -> "BM25Index":
        """Incremental index growth (the IVFIndex.add recipe): tokenize
        ONLY the new documents, union their postings, re-sum document
        frequencies (a vocabulary-sized aggregation — the existing
        postings are never re-tokenized or re-shuffled beyond the dfreq
        merge), and merge the additive stats components exactly. Callers
        are responsible for new ids not colliding with indexed ones."""
        delta = BM25Index.build(
            new_corpus, id_col=self.id_col, text_col=text_col,
            lowercase=self.lowercase,
        )
        postings = self.postings.unionByName(delta.postings)
        dfreq = (
            self.dfreq.unionByName(delta.dfreq)
            .groupBy("term")
            .agg(F.sum("df_t").alias("df_t"))
        )
        stats = (
            self.stats.unionByName(delta.stats)
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_dl").alias("n_dl"),
                F.sum("sum_dl").alias("sum_dl"),
            )
        )
        return BM25Index(postings, dfreq, stats, self.id_col, self.lowercase)

    def topk(
        self,
        queries: DataFrame,
        query_id_col: str = "query_id",
        query_text_col: str = "text",
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        require_all_terms: bool = False,
    ) -> DataFrame:
        if k < 1:
            raise ValueError("k must be >= 1")
        qterms = _query_terms(
            queries, query_id_col, query_text_col, self.lowercase
        )
        qvocab = qterms.select("term").distinct()
        # restrict the (vocabulary-sized) dfreq BEFORE broadcasting; the
        # broadcast qdf join is ALSO the query-vocabulary prune of the
        # postings scan (dfreq covers every postings term by
        # construction, so restricting it to the query vocabulary prunes
        # exactly the rows the former qterms-first join pruned). The
        # per-query fan-out join runs AFTER _with_contrib, so each
        # (doc, term) scores once (r13 — see _with_contrib).
        qdf = self.dfreq.join(F.broadcast(qvocab), "term")
        per_doc_term = (
            self.postings.withColumnRenamed("dl", "__dl")
            .join(F.broadcast(qdf), "term")
            .crossJoin(
                F.broadcast(
                    self.stats.select(
                        F.col("n_docs").alias("__n_docs"),
                        F.when(
                            F.col("n_dl") > 0,
                            F.col("sum_dl")
                            / F.col("n_dl").cast("double"),
                        ).alias("__avgdl"),
                    )
                )
            )
        )
        per_term = _with_contrib(per_doc_term, k1, b).join(
            F.broadcast(qterms), "term"
        )
        return _bm25_rank(
            per_term, self.id_col, query_id_col, k,
            require_all_from=qterms if require_all_terms else None,
        )

    def save(self, path: str, mode: str = "overwrite", n_files: int = 64) -> None:
        """``mode="append"`` is the shard-growth idiom: append a delta
        index (``BM25Index.build(new_docs)``) built over NEW ids and the
        existing files stay untouched — :meth:`load` re-aggregates the
        accumulated dfreq rows and additive stats rows, so an appended
        layout reads back exactly like one ``add()``-merged index (the
        round-4 appended-bloom lesson: duplicate metadata rows must be
        re-aggregated at read time or every consumer silently fans out)."""
        self.postings.repartition(n_files, "term").write.mode(mode).parquet(
            f"{path}/postings"
        )
        self.dfreq.write.mode(mode).parquet(f"{path}/dfreq")
        self.stats.withColumn(
            "lowercase", F.lit(self.lowercase)
        ).withColumn("id_col", F.lit(self.id_col)).coalesce(1).write.mode(
            mode
        ).parquet(f"{path}/stats")

    @staticmethod
    def load(spark, path: str) -> "BM25Index":
        stats_rows = spark.read.parquet(f"{path}/stats").collect()
        metas = {(bool(r.lowercase), r.id_col) for r in stats_rows}
        if len(metas) != 1:
            raise ValueError(
                f"inconsistent index metadata across appended saves: {metas}"
            )
        (lowercase, id_col), = metas
        stats = spark.createDataFrame(
            [(
                sum(r.n_docs for r in stats_rows),
                sum(r.n_dl for r in stats_rows),
                sum(r.sum_dl for r in stats_rows),
            )],
            "n_docs long, n_dl long, sum_dl long",
        )
        dfreq = (
            spark.read.parquet(f"{path}/dfreq")
            .groupBy("term")
            .agg(F.sum("df_t").alias("df_t"))
        )
        return BM25Index(
            spark.read.parquet(f"{path}/postings"),
            dfreq,
            stats,
            id_col=id_col,
            lowercase=lowercase,
        )


def rrf_fuse(
    ranked,
    query_id: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    rrf_k: int = 60,
    weights=None,
) -> DataFrame:
    """Hybrid-retrieval fusion by Reciprocal Rank Fusion (Cormack,
    Clarke & Büttcher 2009): fuse N ranked lists (e.g. :func:`bm25_topk`
    lexical + an ANN semantic top-k) into one top-``k`` per query with

        rrf_score(q, d) = Σ_i  w_i / (rrf_k + rank_i(q, d))

    summing over the lists where ``d`` appears. RRF needs no score
    calibration between retrievers — only ranks — which is why it is the
    standard first fusion baseline.

    ``ranked``: a sequence of DataFrames each carrying (``query_id``,
    ``id_col``, ``rank_col``); extra columns are ignored. ``weights``
    defaults to 1.0 per list.

    Plan shape: the lists are each query×k-sized by construction, so the
    union + per-(query, doc) aggregation is candidate-sized regardless of
    corpus size — fusion never touches the corpus. The fused score is a
    FIXED left-to-right sum over per-list terms (not a float sum
    aggregate), so its IEEE value is order-deterministic and
    cross-engine replayable; ranking ties break discretely by (lists
    matched DESC, per-list ranks ASC NULLS LAST, id ASC).

    Returns (query_id, id_col, rrf_score, n_lists, rank) with rank 1..k
    per query. NULL query ids are a legitimate group (the refine_topk
    lesson): they fuse and rank like any other key.
    """
    ranked = list(ranked)
    if len(ranked) < 2:
        raise ValueError(f"rrf_fuse needs >= 2 ranked lists, got {len(ranked)}")
    if rrf_k < 1:
        raise ValueError(f"rrf_k must be >= 1, got {rrf_k}")
    reserved = {"rrf_score", "n_lists", "rank"}
    for name, val in (("query_id", query_id), ("id_col", id_col)):
        if val in reserved:
            raise ValueError(
                f"{name}={val!r} collides with a reserved output column "
                f"({sorted(reserved)}); rename the key column first"
            )
    if query_id == id_col:
        raise ValueError("query_id and id_col must differ")
    if weights is None:
        weights = [1.0] * len(ranked)
    if len(weights) != len(ranked):
        raise ValueError(
            f"weights has {len(weights)} entries for {len(ranked)} lists"
        )
    parts = []
    for i, frame in enumerate(ranked):
        for c in (query_id, id_col, rank_col):
            if c not in frame.columns:
                raise ValueError(f"list {i} is missing column {c!r}")
        parts.append(
            frame.select(
                F.col(query_id),
                F.col(id_col),
                F.col(rank_col).cast("long").alias("__rrf_rank"),
                F.lit(i).alias("__rrf_list"),
            )
        )
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), parts)
    per_doc = union.groupBy(query_id, id_col).agg(
        *[
            F.min(F.when(F.col("__rrf_list") == i, F.col("__rrf_rank"))).alias(
                f"__rrf_r{i}"
            )
            for i in range(len(ranked))
        ]
    )
    score = F.lit(0.0)
    for i, w in enumerate(weights):
        score = score + F.coalesce(
            F.lit(float(w)) / (F.lit(rrf_k) + F.col(f"__rrf_r{i}")),
            F.lit(0.0),
        )
    n_lists = sum(
        F.when(F.col(f"__rrf_r{i}").isNotNull(), 1).otherwise(0)
        for i in range(len(ranked))
    )
    scored = per_doc.withColumn("rrf_score", score).withColumn(
        "n_lists", n_lists.cast("int")
    )
    order = [F.col("rrf_score").desc(), F.col("n_lists").desc()]
    order += [
        F.col(f"__rrf_r{i}").asc_nulls_last() for i in range(len(ranked))
    ]
    order.append(F.col(id_col).asc())
    w_rank = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "rrf_score", "n_lists", "rank")
    )


#: nDCG weight quantization: 1/log2(rank+1) is transcendental, and
#: engines' log implementations (and float sum orders) differ in final
#: ulps — quantizing each weight to an INTEGER (floor(scale/log2(r+1)),
#: computed once in Python and embedded as literals) makes every DCG an
#: exact integer sum and nDCG ONE IEEE division, bit-replayable anywhere.
#: 1e12 keeps 12 significant digits of the true weight — the induced
#: nDCG error is ~1e-12, far under any reporting precision.
NDCG_WEIGHT_SCALE = 10**12


def _ndcg_weights(k: int) -> list:
    import math

    return [int(NDCG_WEIGHT_SCALE // math.log2(r + 1)) for r in range(1, k + 1)]


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: Optional[str] = None,
) -> DataFrame:
    """Standard IR evaluation per judged query — one row per query of
    ``qrels``: (query, n_relevant, n_retrieved, hits, recall_at_k, mrr,
    ndcg_at_k, precision_at_k, ap_at_k).

    - ``results``: ranked lists (query, doc, rank) — e.g. the output of
      ``bm25_topk`` / ``brute_force_topk`` / ``ivf_pq_topk`` /
      ``rrf_fuse``; rows past ``k`` are ignored.
    - ``qrels``: judged relevant docs per query; ``rel_col=None`` =
      binary relevance, else non-negative integer grades with the
      standard exponential gain 2^rel − 1.
    - ``mrr`` = 1/rank of the first relevant hit (0.0 when none) —
      reciprocal rank at the ``k`` cutoff;
    - ``ndcg_at_k`` uses integer-quantized log weights (see
      :data:`NDCG_WEIGHT_SCALE`) so DCG/IDCG are exact integer sums and
      the ratio replays bit-for-bit cross-engine; NULL when the ideal
      gain is zero (no positive-gain judgments);
    - ``precision_at_k`` = hits/k; ``ap_at_k`` is binary average
      precision with integer-quantized 1/r weights (floor(1e12/r) — the
      nDCG idiom) and a FIXED two-division tail (S/R)/1e12, so it
      replays bit-for-bit; 0.0 when no hits.

    Shape: results filter + ONE join to qrels on (query, doc) + two
    query-grain aggregations (metrics over hits, ideal over qrels) —
    everything hash-partitions by query; queries without retrievals
    still emit (the IR convention: evaluate over judged queries)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    for c, frame, nm in (
        (query_col, results, "results"), (doc_col, results, "results"),
        (rank_col, results, "results"),
        (query_col, qrels, "qrels"), (doc_col, qrels, "qrels"),
    ):
        if c not in frame.columns:
            raise ValueError(f"column {c!r} not in {nm}")
    if rel_col is not None and rel_col not in qrels.columns:
        raise ValueError(f"rel_col {rel_col!r} not in qrels")

    w = _ndcg_weights(k)
    # ONE parsed array literal — k F.lit Columns in a loop is the
    # plan-build py4j cost class (the simhash 64-Column lesson); k=100+
    # is routine for recall@100/nDCG@100
    w_arr = F.expr("array(" + ", ".join(f"{x}L" for x in w) + ")")

    # shiftleft's numBits is python-int-only in the Column API (the bloom
    # lesson) — the graded gain 2^rel − 1 goes through a parsed
    # expression. shiftleft WRAPS silently past 62 (bypassing the ANSI
    # overflow net) and negative rel shifts by rel&63, so grades are
    # lazily asserted into [0, 62] (assert_true rides INSIDE the used
    # expression — the corpus_divergence lesson)
    gain = (
        F.lit(1).cast("long")
        if rel_col is None
        else F.when(
            F.assert_true(
                (F.col(rel_col) >= 0) & (F.col(rel_col) <= 62),
                F.lit(
                    f"retrieval_metrics: {rel_col} must be in [0, 62] "
                    "(2^rel-1 gains wrap past 62)"
                ),
            ).isNull(),
            F.expr(
                f"cast(shiftleft(cast(1 as bigint), "
                f"cast({ident(rel_col)} as int)) - 1 as bigint)"
            ),
        )
    )
    # zero-gain judgments (graded rel=0 = judged non-relevant) contribute
    # nothing to ANY metric — dropping them up front makes n_relevant
    # mean "positively judged" and recall/mrr consistent with nDCG; a
    # query with no positive judgments emits nothing (unjudgeable)
    qr = qrels.select(
        F.col(query_col).alias("__rm_q"),
        F.col(doc_col).alias("__rm_d"),
        gain.alias("__rm_g"),
    ).where(F.col("__rm_g") > 0)
    # ranks must be 1-based (0 would crash element_at, negatives would
    # silently index the weight array from the END) — lazily asserted on
    # every RETAINED row; duplicate (query, doc) rows (a concatenated
    # multi-retriever list) keep their BEST rank, or the left join below
    # would fan each qrel out and inflate n_relevant/hits/DCG
    res = (
        results.where(F.col(rank_col) <= k)
        .select(
            F.col(query_col).alias("__rm_q"),
            F.col(doc_col).alias("__rm_d"),
            F.when(
                F.assert_true(
                    F.col(rank_col) >= 1,
                    F.lit("retrieval_metrics: ranks must be 1-based"),
                ).isNull(),
                F.col(rank_col).cast("int"),
            ).alias("__rm_r"),
        )
        .groupBy("__rm_q", "__rm_d")
        .agg(F.min("__rm_r").alias("__rm_r"))
    )
    hits = qr.join(res, ["__rm_q", "__rm_d"], "left").select(
        "__rm_q", "__rm_g", "__rm_r",
        F.when(
            F.col("__rm_r").isNotNull(),
            F.col("__rm_g") * F.element_at(w_arr, F.col("__rm_r")),
        ).alias("__rm_dg"),
    )
    # ideal DCG: the query's gains sorted DESC, zipped with the weights
    # (bounded: only the top-k gains matter)
    per_q = hits.groupBy("__rm_q").agg(
        F.count(F.lit(1)).alias("n_relevant"),
        F.count("__rm_r").alias("hits"),
        F.min("__rm_r").alias("__rm_first"),
        F.sum("__rm_dg").alias("__rm_dcg"),
        F.slice(
            F.reverse(F.array_sort(F.collect_list("__rm_g"))), 1, k
        ).alias("__rm_topg"),
        F.collect_list("__rm_r").alias("__rm_hr"),
    )
    # quantized average precision (binary AP: each positively judged doc
    # counts once regardless of grade — the TREC convention): per hit
    # rank r, P@r = (#hit ranks <= r)/r; terms integer-quantize as
    # count * floor(1e12/r) (exact integer sum, tie-safe — tied ranks
    # all take the full <=-count), then AP = (S/R)/1e12 with the two
    # IEEE divisions in this fixed order on every engine. O(hits^2)
    # HOF per query, hits <= k — bounded, runs on the aggregated array
    p_arr = "array(" + ", ".join(f"{10**12 // r}L" for r in range(1, k + 1)) + ")"
    ap_sum = F.expr(
        "aggregate(transform(__rm_hr, x -> "
        f"size(filter(__rm_hr, y -> y <= x)) * element_at({p_arr}, x)), "
        "cast(0 as bigint), (acc, t) -> acc + t)"
    )
    idcg = F.aggregate(
        F.zip_with(
            F.col("__rm_topg"),
            F.slice(w_arr, 1, k),
            lambda g, wt: F.coalesce(g, F.lit(0)) * F.coalesce(wt, F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # n_retrieved counts DISTINCT retrieved docs within k (post-dedup)
    n_ret = res.groupBy("__rm_q").agg(F.count(F.lit(1)).alias("n_retrieved"))
    out = (
        per_q.join(n_ret, "__rm_q", "left")
        .withColumn("__rm_idcg", idcg)
        .withColumn("__rm_apsum", ap_sum)
        .select(
            F.col("__rm_q").alias(query_col),
            "n_relevant",
            F.coalesce(F.col("n_retrieved"), F.lit(0)).alias("n_retrieved"),
            "hits",
            (F.col("hits").cast("double") / F.col("n_relevant").cast("double"))
            .alias("recall_at_k"),
            F.when(
                F.col("__rm_first").isNotNull(),
                F.lit(1.0) / F.col("__rm_first").cast("double"),
            ).otherwise(F.lit(0.0)).alias("mrr"),
            F.when(
                F.col("__rm_idcg") > 0,
                F.coalesce(F.col("__rm_dcg"), F.lit(0)).cast("double")
                / F.col("__rm_idcg").cast("double"),
            ).alias("ndcg_at_k"),
            (F.col("hits").cast("double") / F.lit(float(k)))
            .alias("precision_at_k"),
            (
                F.col("__rm_apsum").cast("double")
                / F.col("n_relevant").cast("double")
                / F.lit(1e12)
            ).alias("ap_at_k"),
        )
    )
    return out
