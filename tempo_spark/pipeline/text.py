"""Text analysis operators for large-scale training-data pipelines.

All hot-path logic is built from native ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen, no Python workers): tokenization via ``split``,
language ID via stopword-hit counting with ``filter``/``array_contains``,
fingerprinting via ``aggregate`` (a fold over characters). Every per-row
operator is embarrassingly parallel — no shuffle at all — so it scales
linearly with input splits at 100 TB; the one corpus-level operator
(``tfidf_keywords``) documents its own shuffle budget.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from tempo_spark.functions.sql import (
    grid6,
    grid6_key,
    grid6_sql,
    ident,
    str_lit,
)

# small, fixed stopword lists per language — deterministic and cheap to
# broadcast as literals inside the plan
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "eine", "mit", "zu"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens; empty text → empty array (not [''])."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def _tokens_sql(text_sql: str) -> str:
    """SQL text of :func:`tokens_col` — the identical expression, parsed
    in ONE py4j round trip (the r12 plan-build discipline: the Column
    form costs ~10 driver round trips per REFERENCE, and the quality/
    repetition signals reference the token array several times each)."""
    return (
        f"CASE WHEN trim({text_sql}) = '' THEN "
        f"cast(array() as array<string>) "
        f"ELSE split(trim({text_sql}), '\\\\s+') END"
    )


def with_token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(out, F.size(tokens_col(F.col(text_col))))


def with_bpe_ish_token_count(
    df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens"
) -> DataFrame:
    """Approximate subword token count: split on word boundaries,
    punctuation, and digit runs (a BPE-ish regex), plus a length/4 floor for
    long unbroken runs — a standard cheap estimator."""
    pieces = F.size(
        F.filter(
            F.split(F.col(text_col), r"(?=[^\w])|(?<=[^\w])|(?=\d)(?<=\D)"),
            lambda x: F.trim(x) != "",
        )
    )
    return df.withColumn(out, F.greatest(pieces, (F.length(F.col(text_col)) / 4).cast("int")))


def with_quality_score(df: DataFrame, text_col: str = "text", out: str = "quality_score") -> DataFrame:
    """Composite quality heuristic in [0,1]: length band, punctuation ratio,
    English-stopword ratio, mean word length band. Deterministic arithmetic —
    reproducible in ANSI SQL for the correctness oracle.

    Built as ONE parsed expression (r12): the former Column chain cost
    ~0.4 s of driver py4j per plan build; the parsed tree is the same
    expressions (bit-identical outputs pinned against the Column form in
    tests/test_pipeline.py::test_quality_score_sql_parity)."""
    t = ident(text_col)
    toks = _tokens_sql(t)
    n_toks = f"size({toks})"
    n_chars = f"length({t})"
    punct = f"length(regexp_replace({t}, '[^.,;:!?]', ''))"
    punct_ratio = (
        f"(CASE WHEN {n_chars} > 0 THEN {punct} / {n_chars} ELSE 0.0D END)"
    )
    # escaped like every name-carrying literal: today's list is plain
    # ASCII, but a future stopword containing a quote/backslash must not
    # break the parse or silently change the expression
    sw = "array(" + ",".join(str_lit(w) for w in STOPWORDS["en"]) + ")"
    sw_hits = f"size(filter({toks}, t -> array_contains({sw}, lower(t))))"
    sw_ratio = (
        f"(CASE WHEN {n_toks} > 0 THEN {sw_hits} / {n_toks} ELSE 0.0D END)"
    )
    mean_word_len = (
        f"(CASE WHEN {n_toks} > 0 THEN {n_chars} / {n_toks} ELSE 0.0D END)"
    )
    length_score = f"least({n_toks} / 100.0D, 1.0D)"
    punct_score = f"(1.0D - least({punct_ratio} * 10, 1.0D))"
    sw_score = f"least({sw_ratio} * 4, 1.0D)"
    wordlen_score = (
        f"(CASE WHEN ({mean_word_len} >= 3) AND ({mean_word_len} <= 10) "
        f"THEN 1.0D ELSE 0.5D END)"
    )
    score = (
        f"(({length_score} + {punct_score} + {sw_score} + {wordlen_score})"
        f" / 4)"
    )
    return df.selectExpr("*", f"round({score}, 6) AS {ident(out)}")


def _lang_pred_expr(toks: Column) -> Column:
    """THE stopword-argmax language predictor over a (lowercased) token
    array — shared by the document-level and paragraph-level operators so
    the two grains can never disagree on what a language 'is'. Ties break
    by language-code order; 'und' when no stopword hits at all."""
    hit_cols = {}
    for lang, words in STOPWORDS.items():
        arr = F.array([F.lit(w) for w in words])
        hit_cols[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    langs = sorted(STOPWORDS)
    best = F.greatest(*[hit_cols[l] for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties via later overwrite
        pred = F.when(hit_cols[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def with_language_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """n-gram/stopword language heuristic: count stopword hits per language,
    predict the argmax (ties broken by language-code order, 'und' when no
    hits at all). Pure per-row expression — no shuffle."""
    toks = F.transform(tokens_col(F.col(text_col)), F.lower)
    return df.withColumn(out, _lang_pred_expr(toks))


#: paragraph boundary: one or more newlines (testdata/web docs are
#: line-grained; a blank-line-only convention would see one giant
#: paragraph). Blank/whitespace-only pieces are dropped.
PARAGRAPH_SPLIT_REGEX = "\\n+"


def paragraphs_col(text: Column) -> Column:
    """THE single paragraph-boundary definition (shared by
    ``with_paragraph_langs`` and ``remove_foreign_paragraphs`` — the
    filter can never drop a paragraph the analysis pass didn't score).
    NULL text stays NULL; empty/whitespace text → empty array."""
    return F.filter(
        F.split(text, PARAGRAPH_SPLIT_REGEX),
        lambda p: F.length(F.trim(p)) > 0,
    )


def _paragraph_lang_stage(df: DataFrame, text_col: str):
    """Stage the paragraph array, per-paragraph language array, and
    majority language as BOUND columns (``__tempo_pp``/``__tempo_pl``/
    ``__tempo_pm``). Staging matters twice over: HOF expressions re-inline
    through withColumn chains (the with_minhash lesson), and the majority
    expression is O(candidates × paragraphs) — referencing it inline from
    a per-element lambda would evaluate it once per paragraph."""
    for c in ("__tempo_pp", "__tempo_pl", "__tempo_pm"):
        if c in df.columns:
            raise ValueError(f"reserved staging column {c} present in input")
    staged = df.withColumn("__tempo_pp", paragraphs_col(F.col(text_col)))
    staged = staged.withColumn(
        "__tempo_pl",
        F.transform(
            F.col("__tempo_pp"),
            lambda p: _lang_pred_expr(F.transform(tokens_col(p), F.lower)),
        ),
    )
    pl = F.col("__tempo_pl")
    known = F.filter(pl, lambda l: l != F.lit("und"))
    cands = F.array_distinct(known)
    # majority = mode over non-'und' paragraph predictions, ties broken by
    # language-code order (min over (-count, lang) structs); 'und' when no
    # paragraph got a verdict
    best = F.array_min(
        F.transform(
            cands,
            lambda c: F.struct(
                (-F.size(F.filter(known, lambda x: x == c))).alias("nc"),
                c.alias("lang"),
            ),
        )
    )
    majority = F.when(
        F.col(text_col).isNotNull(),
        F.coalesce(best.getField("lang"), F.lit("und")),
    )
    return staged.withColumn("__tempo_pm", majority)


def with_paragraph_langs(
    df: DataFrame,
    text_col: str = "text",
    out_langs: str = "para_langs",
    out_majority: str = "majority_lang",
    out_frac: str = "foreign_para_frac",
) -> DataFrame:
    """Paragraph-grain language analysis (the CCNet recipe applies language
    ID per paragraph, not per document — web pages routinely embed nav or
    quotes in another language): emits the per-paragraph prediction array,
    the majority language over decided paragraphs, and
    ``foreign_para_frac`` — the fraction of decided paragraphs
    DISAGREEING with the majority (the mixed-language-document signal;
    hardened-rounded to 6 decimals so any engine reproduces it
    bit-identically). NULL text → all three NULL; a doc with no decided
    paragraph → majority 'und', frac NULL.

    Pure per-row expressions over the shared :func:`paragraphs_col` /
    :func:`_lang_pred_expr` definitions — zero shuffles, stream-safe."""
    for c in (out_langs, out_majority, out_frac):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already present in input")
    staged = _paragraph_lang_stage(df, text_col)
    pl, pm = F.col("__tempo_pl"), F.col("__tempo_pm")
    n_known = F.size(F.filter(pl, lambda l: l != F.lit("und")))
    n_foreign = F.size(
        F.filter(pl, lambda l: (l != F.lit("und")) & (l != pm))
    )
    frac = F.when(n_known > 0, grid6(n_foreign / n_known))
    return (
        staged.withColumn(out_langs, pl)
        .withColumn(out_majority, pm)
        .withColumn(out_frac, frac)
        .drop("__tempo_pp", "__tempo_pl", "__tempo_pm")
    )


def remove_foreign_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    out: str = "text_clean",
    keep_und: bool = True,
    langs_col: Optional[str] = None,
    majority_col: Optional[str] = None,
) -> DataFrame:
    """CCNet-style foreign-paragraph removal: keep only paragraphs whose
    predicted language matches the document's majority language.
    ``keep_und=True`` (default) also keeps undecided paragraphs — short
    lists/headings rarely carry stopwords; ``keep_und=False`` drops EVERY
    undecided paragraph, including when the majority itself is 'und' (an
    all-undecided doc strictly filters to ''). Kept paragraphs re-join
    with a single newline (the paragraph split already normalizes newline
    runs). NULL text stays NULL; a fully-foreign or empty doc yields ''.
    Zero shuffles, stream-safe; shares :func:`paragraphs_col`/
    :func:`_lang_pred_expr` with the analysis operators.

    Pass ``langs_col``/``majority_col`` (both or neither) to REUSE the
    columns a prior :func:`with_paragraph_langs` produced instead of
    re-scoring every paragraph — the composed
    ``remove_foreign_paragraphs(with_paragraph_langs(df), langs_col=
    "para_langs", majority_col="majority_lang")`` then runs the expensive
    language stage once (only the cheap paragraph re-split repeats; a
    length mismatch between the split and the given langs array fails
    lazily via ``assert_true`` rather than silently dropping
    paragraphs)."""
    if out in df.columns:
        raise ValueError(f"output column {out!r} already present in input")
    if (langs_col is None) != (majority_col is None):
        raise ValueError("pass langs_col and majority_col together")
    if langs_col is None:
        staged = _paragraph_lang_stage(df, text_col)
        pl, pm = F.col("__tempo_pl"), F.col("__tempo_pm")
        drop_cols = ["__tempo_pp", "__tempo_pl", "__tempo_pm"]
    else:
        for c in (langs_col, majority_col):
            if c not in df.columns:
                raise ValueError(f"column {c!r} not in DataFrame")
        if "__tempo_pp" in df.columns:
            raise ValueError("reserved staging column __tempo_pp present in input")
        staged = df.withColumn("__tempo_pp", paragraphs_col(F.col(text_col)))
        pl, pm = F.col(langs_col), F.col(majority_col)
        drop_cols = ["__tempo_pp"]
    und = F.lit("und")
    if keep_und:
        cond = lambda l: (l == pm) | (l == und)  # noqa: E731
    else:
        cond = lambda l: (l == pm) & (l != und)  # noqa: E731
    kept = F.filter(
        F.zip_with(
            F.col("__tempo_pp"), pl, lambda p, l: F.when(cond(l), p)
        ),
        lambda p: p.isNotNull(),
    )
    aligned = F.assert_true(
        F.size(F.col("__tempo_pp")) == F.size(pl),
        F.lit("remove_foreign_paragraphs: langs_col length does not match "
              "the paragraph split — was it produced by "
              "with_paragraph_langs on the same text?"),
    )
    cleaned = F.when(
        F.col(text_col).isNotNull() & aligned.isNull(),
        F.array_join(kept, "\n"),
    )
    return staged.withColumn(out, cleaned).drop(*drop_cols)


def with_repetition_metrics(
    df: DataFrame, text_col: str = "text", n: int = 2, prefix: str | None = None
) -> DataFrame:
    """Within-document n-gram repetition (a Gopher-style quality signal):
    emits ``n_{n}grams`` (total word n-grams), ``n_{n}grams_distinct``, and
    ``dup_{n}gram_frac`` = 1 - distinct/total (0.0 when the doc has fewer
    than ``n`` tokens). Highly repetitive boilerplate/spam scores near 1.

    Pure per-row HOF expressions — no shuffle, no Python workers. The two
    counts are exact integers; the fraction is hardened-rounded to 6
    decimals (``floor(x*1e6+0.5)/1e6``) so any SQL engine reproduces it
    bit-identically. Tokens are materialized into an intermediate column
    first: HOFs are not CSE'd, so inlining the split into every consumer
    would re-tokenize the document several times.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    p = prefix or f"{n}gram"
    toks_c, grams_c = f"__toks_{p}", f"__grams_{p}"
    out_total, out_distinct, out_frac = f"n_{p}s", f"n_{p}s_distinct", f"dup_{p}_frac"

    # ONE parsed expression per staging/output column (r12 plan-build
    # discipline — the Column chain cost ~0.4 s of driver py4j per call;
    # bit-identical outputs pinned in tests/test_pipeline.py).
    # guard: sequence(1, 0) yields a DESCENDING [1, 0], not an empty array
    stepped = df.selectExpr("*", f"{_tokens_sql(ident(text_col))} AS {toks_c}")
    grams = (
        f"(CASE WHEN size({toks_c}) >= {n} THEN "
        f"transform(sequence(1, size({toks_c}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks_c}, i, {n}))) "
        f"ELSE cast(array() as array<string>) END)"
    )
    stepped = stepped.selectExpr("*", f"{grams} AS {grams_c}")
    total = f"size({grams_c})"
    distinct = f"size(array_distinct({grams_c}))"
    frac = (
        f"(CASE WHEN {total} > 0 THEN 1.0D - {distinct} / {total} "
        f"ELSE 0.0D END)"
    )
    hardened = grid6_sql(frac)
    return stepped.selectExpr(
        "*",
        f"{total} AS {ident(out_total)}",
        f"{distinct} AS {ident(out_distinct)}",
        f"{hardened} AS {ident(out_frac)}",
    ).drop(toks_c, grams_c)


def with_ngram_char_fracs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 2,
    broadcast_back: bool = False,
) -> DataFrame:
    """The two Gopher character-level repetition signals
    ``with_repetition_metrics`` doesn't cover: ``top_{n}gram_char_frac``
    (fraction of the document's characters inside its single most frequent
    word n-gram, counting every occurrence) and ``dup_{n}gram_char_frac``
    (fraction inside n-grams occurring more than once). Both are the
    standard overlap-ignoring estimates (occurrences × gram length /
    doc length — gram length includes its joining spaces). 0.0 for docs
    with no n-grams.

    Distinct-count-per-gram cannot be a per-row HOF without O(grams²)
    work per document, so this is the distributed formulation: explode →
    ``groupBy(id, gram)`` with map-side combine → one per-doc max/sum
    aggregate → join the two numbers back on ``id_col``. The join back is
    id-keyed (sort-merge/AQE by default; ``broadcast_back=True`` when the
    doc count is small enough to broadcast two longs per doc). Ties for
    the top gram (same count, same length) yield the same fraction, so
    the output is deterministic regardless of which gram wins.

    ``id_col`` MUST be unique per row — rows sharing an id (including two
    NULL ids) would pool their grams into one aggregate and receive
    silently-wrong fractions. A single NULL id is handled (the join back
    is null-safe).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks_c = "__cf_toks"

    stepped = df.select(F.col(id_col), F.col(text_col)).withColumn(
        toks_c, tokens_col(F.col(text_col))
    )
    n_toks = F.size(F.col(toks_c))
    # explode bare positions and build the gram post-Generate (codegen —
    # a position transform() runs interpreted, SCALE.md round-8 section);
    # explode_outer + null filter per the pushdown trap
    exploded = (
        stepped.select(
            id_col,
            F.length(F.col(text_col)).alias("__chars"),
            F.col(toks_c),
            F.explode_outer(
                F.when(n_toks >= n, F.sequence(F.lit(1), n_toks - (n - 1)))
            ).alias("__gpos"),
        )
        .where(F.col("__gpos").isNotNull())
        .select(
            id_col,
            "__chars",
            F.concat_ws(
                " ", F.slice(F.col(toks_c), F.col("__gpos"), F.lit(n))
            ).alias("__gram"),
        )
    )
    counts = exploded.groupBy(id_col, "__chars", "__gram").agg(
        F.count("*").alias("__cnt")
    )
    gl = F.length("__gram")
    # Gopher picks the most FREQUENT gram; its char weight breaks count
    # ties (equal count + equal length ties have equal fractions anyway)
    per_doc = counts.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("__cnt").alias("c"), (F.col("__cnt") * gl).alias("w"))
        ).alias("__top"),
        F.sum(F.when(F.col("__cnt") > 1, F.col("__cnt") * gl).otherwise(0)).alias(
            "__dup"
        ),
        F.first("__chars").alias("__chars"),
    )
    # the ONE hardened-rounding recipe (cross-engine-critical) — never a
    # local copy

    fracs = per_doc.select(
        F.col(id_col).alias("__cf_id"),
        grid6(F.col("__top.w") / F.col("__chars")).alias(f"top_{n}gram_char_frac"),
        grid6(F.col("__dup") / F.col("__chars")).alias(f"dup_{n}gram_char_frac"),
    )
    if broadcast_back:
        fracs = F.broadcast(fracs)
    # null-safe join back (renamed key dodges the ambiguous-self-join
    # check): a single NULL-id row keeps its fractions
    joined = df.join(
        fracs, F.col(id_col).eqNullSafe(F.col("__cf_id")), "left"
    ).drop("__cf_id")
    zero = F.lit(0.0)
    return joined.withColumn(
        f"top_{n}gram_char_frac", F.coalesce(F.col(f"top_{n}gram_char_frac"), zero)
    ).withColumn(
        f"dup_{n}gram_char_frac", F.coalesce(F.col(f"dup_{n}gram_char_frac"), zero)
    )


def with_char_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    out: str = "char_entropy",
    broadcast_back: bool = False,
) -> DataFrame:
    """Shannon entropy of the document's character distribution, in bits —
    the classic gibberish/low-diversity detector (``aaaaaaa`` ≈ 0 bits,
    natural English ≈ 4–4.5 bits, base64 blobs ≈ 6): filter
    ``out < 2`` for repeated-char spam and ``out > 5.5`` for binary junk.

    Same distributed shape (and the same ``id_col`` uniqueness contract)
    as ``with_ngram_char_fracs`` — an exact per-row HOF would be
    O(alphabet × length) per document, so instead: explode characters →
    map-side-combined ``groupBy(id, char)`` → one per-doc entropy
    aggregate over the (tiny) per-character counts → null-safe join back.
    Empty/null text yields 0.0. Hardened-rounded to 1e-6."""
    chars = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__n"),
        F.explode_outer(F.split(F.col(text_col), "")).alias("__ch"),
    ).where(F.col("__ch").isNotNull() & (F.col("__ch") != ""))
    counts = chars.groupBy(id_col, "__n", "__ch").agg(F.count("*").alias("__c"))
    p = F.col("__c") / F.col("__n")
    per_doc = counts.groupBy(id_col).agg(
        F.sum(-p * F.log2(p)).alias("__h")
    )

    ent = per_doc.select(
        F.col(id_col).alias("__ce_id"), grid6(F.col("__h")).alias(out)
    )
    if broadcast_back:
        ent = F.broadcast(ent)
    return (
        df.join(ent, F.col(id_col).eqNullSafe(F.col("__ce_id")), "left")
        .drop("__ce_id")
        .withColumn(out, F.coalesce(F.col(out), F.lit(0.0)))
    )


#: pattern library for with_pattern_counts; Java-regex flavored (the Spark
#: side is authoritative — cross-engine regex dialects differ, so these
#: columns are deliberately NOT oracle-gated)
PATTERNS: dict[str, str] = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^\s]+",
    "digit_runs": r"\d{6,}",
}


def with_pattern_counts(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Per-row occurrence counts for a dict of regex patterns (default:
    emails / URLs / long digit runs — the cheap PII-ish signals a corpus
    filter wants). Native ``regexp_count`` — JVM codegen, no shuffle."""
    for name, pat in (patterns or PATTERNS).items():
        df = df.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
    return df


def with_gopher_flags(
    df: DataFrame, text_col: str = "text", line_sep: str = "\n"
) -> DataFrame:
    """The Gopher structural-quality signals that ``with_quality_score``'s
    composite doesn't cover — pure per-row expressions (zero shuffle,
    stream-composable), emitted as fractions so the caller picks the
    thresholds (Gopher's: ≥ 80%% alpha words, ≤ 90%% bullet lines, ≤ 30%%
    ellipsis lines):

    - ``alpha_word_frac``: words containing at least one A-Za-z character;
    - ``bullet_line_frac``: lines starting with a bullet (``-``, ``*``,
      ``•``) after leading whitespace;
    - ``ellipsis_line_frac``: lines ending with ``...`` or ``…``;
    - ``symbol_word_ratio``: ``#`` occurrences per word (Gopher's
      symbol-to-word ratio; ellipses are already covered per line).

    Empty/whitespace text yields 0.0 everywhere. ``line_sep`` is a Java
    REGEX (same caveat as ``dedup_paragraphs``'s ``sep``): escape
    metacharacters when the separator is a literal."""
    # tokenize/line-split ONCE into materialized columns: HOFs are not
    # CSE'd, so inlining `toks`/`lines` into every numerator, denominator
    # and guard would re-split each document ~6× per row (the
    # with_minhash / with_repetition_metrics gotcha)

    for reserved in ("__gf_toks", "__gf_lines"):
        if reserved in df.columns:
            raise ValueError(f"reserved column name {reserved} present in input")
    staged = df.withColumn("__gf_toks", tokens_col(F.col(text_col))).withColumn(
        "__gf_lines", F.split(F.col(text_col), line_sep)
    )
    toks, lines = F.col("__gf_toks"), F.col("__gf_lines")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    # \s* inside the anchor, not ltrim(): ltrim strips only spaces, so
    # tab-indented bullets would never match
    bullets = F.size(F.filter(lines, lambda ln: ln.rlike("^\\s*[-*•]")))
    ellipses = F.size(F.filter(lines, lambda ln: ln.rlike("(\\.\\.\\.|…)$")))
    hashes = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )

    def safe(num: Column, den: Column) -> Column:
        return F.when(den > 0, grid6(num / den)).otherwise(F.lit(0.0))

    return (
        staged.withColumn("alpha_word_frac", safe(alpha, n_words))
        .withColumn("bullet_line_frac", safe(bullets, n_lines))
        .withColumn("ellipsis_line_frac", safe(ellipses, n_lines))
        .withColumn("symbol_word_ratio", safe(hashes, n_words))
        .drop("__gf_toks", "__gf_lines")
    )


def redact_patterns(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement: str = "[{name}]",
    out: str | None = None,
) -> DataFrame:
    """Replace every match of each pattern with a placeholder —
    ``with_pattern_counts``'s acting sibling (count tells you HOW MUCH PII
    a document carries; redact removes it before training). Default
    patterns are the shared ``PATTERNS`` library; ``replacement`` is a
    template over the pattern name (``"[{name}]"`` → ``[emails]``), or a
    fixed string if it has no ``{name}`` slot. Chained native
    ``regexp_replace`` — JVM codegen, zero shuffle, stream-composable.
    Patterns apply in dict order; earlier replacements are visible to later
    patterns (so a URL pattern never re-matches inside an already-redacted
    email placeholder, and orderings that overlap should put the more
    specific pattern first). Like the counts, deliberately NOT
    oracle-gated: regex dialects differ across engines."""
    target = out or text_col
    col = F.col(text_col)
    for name, pat in (patterns or PATTERNS).items():
        # plain replace, not str.format: a fixed replacement like
        # "{REDACTED}" must pass through verbatim (format would KeyError)
        col = F.regexp_replace(col, pat, replacement.replace("{name}", name))
    return df.withColumn(target, col)


def tfidf_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = True,
    broadcast_vocab: bool = True,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document — the corpus-level companion
    to the per-row quality signals above (keyword indexing, topic drift
    monitoring, per-domain content profiling over a training corpus).

    Returns ``(group_cols…, id_col, term, tf, df_t, tfidf, rank)``: raw
    term frequency, document frequency, smoothed score
    ``tf * (ln((N+1)/(df_t+1)) + 1)`` (N = corpus row count, computed
    lazily as a broadcast aggregate — no eager action at plan-build time),
    and the 1-based rank by ``(tfidf DESC, tf DESC, df_t ASC, term ASC)``
    where the score is compared QUANTIZED to 1e-6 (fixed floor(x·1e6+0.5)
    both engines reproduce): near-equal doubles from *different* (tf, df_t)
    pairs would otherwise reorder under Spark-vs-DuckDB ``ln()`` last-ulp
    differences — a latent data-dependent flake for the integer rank; the
    quantized compare collapses sub-1e-6 gaps into a tie that the fully
    discrete (tf, df_t, term) key breaks identically in both engines.

    ``group_cols`` scopes the statistics: document frequency and N are
    computed WITHIN each group (e.g. per language — "the" is background
    noise in English but a signal in a Spanish document), at the cost of a
    wider vocabulary frame (group × term) and a per-group N join instead
    of the 1-row cross join.

    Scale shape — ONE corpus scan, three shuffles, no skewed keys:

    1. token explode → partial-aggregated ``groupBy(id, term)`` (the only
       shuffle whose width is the token stream, and map-side combine
       collapses it to per-(doc, term) counts first);
    2. document frequency: vocabulary-sized ``groupBy(term)`` over the SAME
       exchange — AQE's exchange reuse collapses the two branches, so the
       corpus is scanned and tokenized once (see the pruning-guard comment
       below), and the term shuffle carries only partial counts (map-side
       combined — stopwords appearing in every doc do NOT make a hot
       partition, unlike a window-over-term formulation);
    3. the vocabulary (term, df_t) joins back via **broadcast** — the tf
       frame never reshuffles — then one window shuffle on ``id_col`` where
       Spark's WindowGroupLimit pushes the ``rank <= k`` filter partial,
       pre-shuffle. Pass ``broadcast_vocab=False`` when the distinct-term
       count is too large to broadcast (web-scale noise vocabularies):
       the join becomes a term-keyed shuffle join instead.

    ``explode_outer`` + post-Generate filter per the plan-pushdown gotcha
    (plain ``explode`` re-inlines the tokenizer into a pushed size() test).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    groups = list(group_cols or [])
    toks = tokens_col(F.col(text_col))
    if lowercase:
        toks = F.transform(toks, F.lower)
    tf = (
        df.select(*groups, F.col(id_col), toks.alias("__tok"))
        .select(*groups, id_col, F.explode_outer("__tok").alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy(*groups, id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # the tf > 0 filter is vacuously true (tf = count(1) >= 1) but Catalyst
    # can't prove it, so it can't prune the tf aggregate out of this branch
    # and rewrite it into an independent distinct-pairs scan; both subtrees
    # stay bit-identical below the (id, term) exchange and ReuseExchange
    # collapses them — ONE corpus scan/tokenization + one (id, term)
    # shuffle instead of two of each (a plain count(*)/count(tf) here gets
    # canonicalized and split back into a second full scan)
    dfreq = (
        tf.where(F.col("tf") > 0)
        .groupBy(*groups, "term")
        .agg(F.count("*").alias("df_t"))
    )
    if groups:
        # eqNullSafe on the group keys (renamed to dodge the ambiguous-
        # self-join check): a NULL-valued group (e.g. lang unknown) is a
        # group like any other, and a plain equi-join would silently drop
        # its documents from the output
        dfr = dfreq.select(
            *[F.col(c).alias(f"__g_{c}") for c in groups],
            F.col("term").alias("__g_term"),
            "df_t",
        )
        if broadcast_vocab:
            dfr = F.broadcast(dfr)
        nd = (
            df.groupBy(*groups)
            .agg(F.count(F.lit(1)).alias("__n_docs"))
            .select(*[F.col(c).alias(f"__n_{c}") for c in groups], "__n_docs")
        )
        # the per-group N frame is group-cardinality-sized, same as the
        # vocabulary — honor the same broadcast opt-out
        if broadcast_vocab:
            nd = F.broadcast(nd)
        scored = tf.join(
            dfr,
            [F.col(c).eqNullSafe(F.col(f"__g_{c}")) for c in groups]
            + [F.col("term") == F.col("__g_term")],
        ).join(
            nd, [F.col(c).eqNullSafe(F.col(f"__n_{c}")) for c in groups]
        )
    else:
        if broadcast_vocab:
            dfreq = F.broadcast(dfreq)
        n_docs = F.broadcast(df.select(F.count(F.lit(1)).alias("__n_docs")))
        scored = tf.join(dfreq, ["term"]).crossJoin(n_docs)
    scored = scored.withColumn(
        "tfidf",
        F.col("tf")
        * (F.log((F.col("__n_docs") + 1) / (F.col("df_t") + 1)) + F.lit(1.0)),
    )
    # quantized primary key + discrete tiebreak — see the ranking note in
    # the docstring (ln() ulp divergence between engines)
    score_q = grid6_key("tfidf")
    w = Window.partitionBy(id_col).orderBy(
        score_q.desc(),
        F.col("tf").desc(),
        F.col("df_t").asc(),
        F.col("term").asc(),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*groups, id_col, "term", "tf", "df_t", "tfidf", "rank")
    )


#: doc-start context token for the n-gram LM (cannot collide with real
#: whitespace tokens — it contains whitespace itself)
_LM_START = "\x02 s"


def train_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Train a bigram language model over the corpus — the CCNet-style
    quality signal's model half ("score each document by how surprising a
    reference corpus finds it"; CCNet uses a KenLM trained on Wikipedia —
    here the reference corpus is whatever frame you pass, e.g. a trusted
    high-quality slice, and the LM is exact bigram counts).

    Returns a model DataFrame ``(__ctx, __tok, __cnt, __v)``: context →
    token counts with the vocabulary size embedded on every row (the same
    self-describing-table trick as the Bloom filter — a model persisted to
    parquet carries everything scoring needs). Fully lazy: the vocab size
    rides in via a broadcast 1-row aggregate, so training composes into a
    pipeline without a driver action.

    ``hash_family="xxhash64"`` (default) keys the model by 64-bit token
    hashes — fixed-width join keys, no string shuffles. ``"raw"`` keys by
    the token strings themselves (engine-neutral; the oracle-gated path).

    Scale shape: ONE explode to (ctx, tok) narrow rows → map-side-combined
    groupBy. Model size is bounded by distinct bigrams, not corpus size."""
    if hash_family not in ("xxhash64", "raw"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    toks = F.array_insert(tokens_col(F.col(text_col)), 1, F.lit(_LM_START))
    if hash_family == "xxhash64":
        toks = F.transform(toks, lambda t: F.xxhash64(t))
    pairs = _lm_pairs(df.select(toks.alias("__t")))
    counts = pairs.groupBy("__ctx", "__tok").agg(F.count("*").alias("__cnt"))
    vocab = pairs.agg(F.count_distinct(F.col("__tok")).alias("__v"))
    return counts.crossJoin(F.broadcast(vocab))


def _lm_pairs(staged: DataFrame, *keep_cols: str) -> DataFrame:
    """(ctx, tok) bigram rows from a staged ``__t`` token(-hash) array:
    bare positions explode and both elements read post-Generate
    (codegen — a position transform() runs interpreted; SCALE.md r8)."""
    t = F.col("__t")
    return (
        staged.where(F.size("__t") >= 2)
        .select(
            *keep_cols,
            t,
            F.explode_outer(
                F.sequence(F.lit(0), F.size("__t") - F.lit(2))
            ).alias("__pos"),
        )
        .where(F.col("__pos").isNotNull())
        .select(
            *keep_cols,
            F.element_at(t, F.col("__pos") + F.lit(1)).alias("__ctx"),
            F.element_at(t, F.col("__pos") + F.lit(2)).alias("__tok"),
        )
    )


def with_lm_logprob(
    df: DataFrame,
    model_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
    hash_family: str = "xxhash64",
    out: str = "lm_logprob",
) -> DataFrame:
    """Score each document against a :func:`train_ngram_lm` model: ``out``
    = mean over the document's bigrams of
    ``ln((c(ctx, tok) + alpha) / (c(ctx) + alpha·V))`` (additive
    smoothing; an unseen context scores ``-ln V``). Perplexity is
    ``exp(-out)``; filter or bucket on either — the CCNet head/middle/tail
    split is a quantile cut on this column. ``hash_family`` must match the
    model's. Documents with fewer than 2 tokens (no bigrams) get NULL.

    Scale shape: the document side explodes to narrow (id, ctx, tok) rows;
    the model joins on its grouping keys (shuffle bounded by bigram
    count); the per-doc mean joins back by id — document text is never
    re-aggregated."""
    if hash_family not in ("xxhash64", "raw"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    if out in df.columns:
        # a left join would otherwise produce two same-named columns and
        # die later as AMBIGUOUS_REFERENCE
        raise ValueError(f"output column {out!r} already present in input")
    toks = F.array_insert(tokens_col(F.col(text_col)), 1, F.lit(_LM_START))
    if hash_family == "xxhash64":
        toks = F.transform(toks, lambda t: F.xxhash64(t))
    doc_pairs = _lm_pairs(df.select(F.col(id_col), toks.alias("__t")), id_col)
    ctx_totals = model_df.groupBy("__ctx").agg(F.sum("__cnt").alias("__ctx_total"))
    vrow = model_df.agg(F.max("__v").alias("__v"))
    scored = (
        doc_pairs.join(model_df.select("__ctx", "__tok", "__cnt"), ["__ctx", "__tok"], "left")
        .join(ctx_totals, "__ctx", "left")
        .crossJoin(F.broadcast(vrow))
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("__cnt"), F.lit(0)) + F.lit(alpha))
                / (
                    F.coalesce(F.col("__ctx_total"), F.lit(0))
                    + F.lit(alpha) * F.col("__v")
                )
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(F.avg("__lp").alias(out)).select(
        F.col(id_col).alias("__lm_id"), out
    )
    return df.join(
        per_doc, F.col(id_col).eqNullSafe(F.col("__lm_id")), "left"
    ).drop("__lm_id")


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: polynomial rolling hash
    ``h = (h*31 + codepoint) mod 1_000_000_007`` over the characters.
    Implemented as a native ``aggregate`` fold — stays in codegen, and is
    reproducible in any SQL engine with a list-reduce (the DuckDB oracle
    uses ``list_reduce``)."""
    chars = F.split(F.col(text_col), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(1_000_000_007),
    )
    return df.withColumn(out, fp)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out: str | None = None,
    *,
    strip_control: bool = True,
    normalize_quotes: bool = True,
    collapse_whitespace: bool = True,
    trim: bool = True,
    lowercase: bool = False,
) -> DataFrame:
    """C4/CCNet-style text cleanup, entirely JVM-side (``translate`` +
    ``regexp_replace`` chains — zero shuffle, zero Python, linear in input
    splits at any scale). Applied in a fixed order so the result is
    deterministic regardless of which steps are enabled:

    1. ``strip_control``: drop C0/C1 control characters and the
       BOM/zero-width set (ZWSP/ZWNJ/ZWJ/FEFF) — EXCEPT ``\\t``, ``\\n``
       and ``\\r``, which the whitespace step owns (deleting ``\\r`` here
       would weld ``a\\rb`` into ``ab``; collapsing it to a space is the
       whitespace step's call, so CR survives when
       ``collapse_whitespace=False``).
    2. ``normalize_quotes``: curly quotes -> ASCII quotes, en/em dash ->
       ``-``, ellipsis char -> ``...``, NBSP -> space.
    3. ``collapse_whitespace``: runs of spaces/tabs/CR -> one space, spaces
       around newlines dropped, 3+ newlines -> exactly two (paragraph break
       preserved).
    4. ``trim`` / 5. ``lowercase``.

    NULL text stays NULL. Character-class-only patterns are identical in
    Java regex and RE2, so the transform replays bit-for-bit in DuckDB —
    unlike the PII patterns in ``with_pattern_counts``, which stay
    pytest-gated because their dialects differ.

    COMPOSITION WARNING: when many downstream expressions reference the
    cleaned column (e.g. the quality/repetition signal operators), project
    collapse inlines this whole regex chain into EVERY reference — some
    inside interpreted HOF lambdas where codegen CSE cannot reach
    (measured ~17× on the composed corpus recipe). Persist (or write) the
    normalized frame before fanning out; ``prepare_corpus`` does this via
    ``persist_intermediate=True``.
    """
    col = F.col(text_col)
    if strip_control:
        col = F.regexp_replace(
            col, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F​‌‍﻿]", ""
        )
    if normalize_quotes:
        col = F.translate(col, "‘’“”–— ", "''\"\"-- ")
        col = F.regexp_replace(col, "…", "...")
    if collapse_whitespace:
        col = F.regexp_replace(col, "[ \\t\\r]+", " ")
        col = F.regexp_replace(col, " ?\\n ?", "\n")
        col = F.regexp_replace(col, "\\n{3,}", "\n\n")
    if trim:
        col = F.trim(col)
    if lowercase:
        col = F.lower(col)
    return df.withColumn(out or text_col, col)


def corpus_stats(
    df: DataFrame,
    group_cols: Sequence[str] | None = None,
    text_col: str = "text",
    percentiles: Sequence[float] = (0.5, 0.9),
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus health report — the numbers a pipeline operator
    checks before/after each prepare_corpus stage: document and null-text
    counts, distinct-content count (md5 digest, so the report agrees
    with ``exact_dedup``'s notion of identical), duplicate rate, char/token
    totals, token mean and exact interpolated percentiles.

    ONE aggregation over the corpus. The exact ``count_distinct`` inside a
    grouped agg plans with a second exchange keyed by (group, digest) —
    the price of an exact dup-rate; the output is one row per group,
    always collectable. ``exact=False`` swaps it for
    ``approx_count_distinct`` (HLL++, ~2% relative error): the report
    stays a single-pass partial aggregation with no full-corpus-width
    shuffle — the right default at the 100 TB health-check scale where a
    ±2% dup-rate answers the question. Percentile names follow the
    ``withGroupedStats`` convention (0.5 -> ``p50_tokens``).
    """
    from tempo_spark.pipeline.dedup import content_digest
    from tempo_spark.tsdf import _pct_names

    groups = list(group_cols or [])
    text = F.col(text_col)
    n_tokens = F.when(text.isNotNull(), F.size(tokens_col(text)))
    pct_aliases = _pct_names(percentiles, "tokens")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(text.isNull(), 1)).alias("n_null_text"),
        (
            F.count_distinct(content_digest(text))
            if exact
            else F.approx_count_distinct(content_digest(text))
        ).alias("n_distinct_docs"),
        F.coalesce(
            F.sum(F.coalesce(F.length(text), F.lit(0))), F.lit(0)
        ).alias("total_chars"),
        F.coalesce(
            F.sum(F.coalesce(n_tokens, F.lit(0))), F.lit(0)
        ).alias("total_tokens"),
        F.avg(n_tokens).alias("mean_tokens"),
        *[
            F.percentile(n_tokens, F.lit(p)).alias(a)
            for p, a in zip(percentiles, pct_aliases)
        ],
    ]
    stats = df.groupBy(*groups).agg(*aggs)
    # ungrouped agg over an empty corpus still yields one row (n_docs=0) —
    # the health report must survive a stage that filtered everything out,
    # not ANSI-throw DIVIDE_BY_ZERO
    return stats.withColumn(
        "dup_rate",
        F.when(
            F.col("n_docs") > 0,
            (F.col("n_docs") - F.col("n_distinct_docs"))
            / F.col("n_docs").cast("double"),
        ),
    )


#: sentence boundary: split AFTER ./!/?/… followed by whitespace. Java-regex
#: lookbehind (supported by Spark's split); RE2 has no lookbehind, so the
#: sentence family is pytest-gated like the PII patterns.
SENTENCE_SPLIT_REGEX = "(?<=[.!?…])\\s+"


def sentences_col(text: Column) -> Column:
    """THE single sentence-boundary definition, shared by
    ``with_sentences`` and ``chunk_documents(boundary="sentence")`` so
    chunk boundaries can never drift from the segmentation an analysis
    pass reported. Empty/whitespace text → empty array; NULL stays NULL."""
    return F.filter(
        F.split(F.trim(text), SENTENCE_SPLIT_REGEX), lambda s: F.length(s) > 0
    )


def with_sentences(
    df: DataFrame, text_col: str = "text", out: str = "sentences"
) -> DataFrame:
    """Regex sentence segmentation into an ``array<string>`` column —
    per-row JVM work (split + filter), zero shuffle, streams unchanged.
    The boundary rule (split after terminal punctuation + whitespace) is
    the cheap deterministic recipe; abbreviation-aware splitting is a
    model call, not an engine primitive."""
    return df.withColumn(out, sentences_col(F.col(text_col)))


def top_collocations(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
    min_count: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-level collocation mining: the top-``k`` adjacent-token
    bigrams by PMI (phrase discovery — "new york"-style units worth
    treating as one token; also a tokenizer-vocabulary signal and a
    boilerplate detector: templated corpora surface their boilerplate as
    impossibly-high-PMI pairs).

    ``PMI(a,b) = ln( (c_ab / B) / ((c_a / T) · (c_b / T)) )`` with ``c_ab``
    the adjacent-pair count over the corpus token stream, ``B`` total
    bigrams, ``c_a`` unigram counts, ``T`` total tokens. ``min_count``
    floors ``c_ab`` (PMI is degenerate on rare pairs — a hapax pair of two
    hapax tokens maxes the score; Church & Hanks' classic caveat).

    Returns (term_a, term_b, pair_count, count_a, count_b, pmi, rank),
    rank 1..k by (1e-6-quantized PMI DESC, pair_count DESC, term_a,
    term_b) — the discrete tiebreak makes the rank deterministic under
    cross-engine ``ln()`` ulp differences, same idiom as tfidf_keywords.

    Scale shape: column-pruned text-only passes feed the two count
    aggregations (each map-side combined — hot tokens never make a hot
    partition), the count joins are vocabulary-sized (never the corpus),
    and the final top-k is ``orderBy().limit()`` — Spark plans
    TakeOrderedAndProject (a per-partition heap + driver merge of k
    rows), not a global sort."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = tokens_col(F.col(text_col))
    if lowercase:
        toks = F.transform(toks, F.lower)
    staged = df.select(toks.alias("__tok"))
    # post-Generate pairing via the carried array (the r8 lesson: HOF
    # position transforms run interpreted; element_at after posexplode
    # stays in codegen)
    uni = (
        staged.select(F.explode_outer("__tok").alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    pairs = (
        staged.select(
            "__tok",
            F.posexplode_outer("__tok").alias("__i", "term_a"),
        )
        .where(F.col("term_a").isNotNull())
        .select(
            "term_a",
            # try_: the last token has no successor and ANSI element_at
            # throws INVALID_ARRAY_INDEX instead of returning NULL
            F.try_element_at("__tok", F.col("__i") + 2).alias("term_b"),
        )
        .where(F.col("term_b").isNotNull())
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    totals = F.broadcast(
        uni.agg(
            F.sum("__c").alias("__T"),
            # B = Σ_doc max(len-1, 0) = T - docs_with_tokens; count it from
            # the same unigram frame's sibling scan of the staged tokens
        )
    )
    n_bigram_docs = F.broadcast(
        staged.select(
            F.sum(
                F.when(F.size("__tok") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("__D")
        )
    )
    ua = uni.select(
        F.col("term").alias("term_a"), F.col("__c").alias("count_a")
    )
    ub = uni.select(
        F.col("term").alias("term_b"), F.col("__c").alias("count_b")
    )
    scored = (
        pairs.join(ua, "term_a")
        .join(ub, "term_b")
        .crossJoin(totals)
        .crossJoin(n_bigram_docs)
        .withColumn("__B", F.col("__T") - F.col("__D"))
        .withColumn(
            "pmi",
            F.log(
                (F.col("pair_count") / F.col("__B"))
                / (
                    (F.col("count_a") / F.col("__T"))
                    * (F.col("count_b") / F.col("__T"))
                )
            ),
        )
    )
    score_q = grid6_key("pmi")
    ranked = scored.orderBy(
        score_q.desc(),
        F.col("pair_count").desc(),
        F.col("term_a").asc(),
        F.col("term_b").asc(),
    ).limit(k)
    w = Window.orderBy(
        score_q.desc(),
        F.col("pair_count").desc(),
        F.col("term_a").asc(),
        F.col("term_b").asc(),
    )
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "term_a", "term_b", "pair_count", "count_a", "count_b", "pmi", "rank"
    )
