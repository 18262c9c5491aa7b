import pytest
import pyspark.sql.functions as F

from tempo_spark.pipeline import dedup, similarity, text, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
        (3, "completely different content about spark engines and scale"),
        (4, "el rapido zorro marron salta sobre el perro perezoso y que"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestTextOps:
    def test_token_count(self, docs):
        out = {r.doc_id: r.n_tokens for r in text.with_token_count(docs).collect()}
        assert out[0] == 9
        assert out[5] == 0

    def test_quality_score(self, docs):
        out = {r.doc_id: r.quality_score for r in text.with_quality_score(docs).collect()}
        assert 0.0 <= out[0] <= 1.0
        assert out[0] > out[5]  # empty doc scores lower

    def test_language_id(self, docs):
        out = {r.doc_id: r.lang_pred for r in text.with_language_id(docs).collect()}
        assert out[0] == "en"
        assert out[4] == "es"
        assert out[5] == "und"

    def test_paragraph_langs(self, spark):
        en = "the cat is in the house and it is warm"
        fr = "le chat et la maison pour les amis dans un jour"
        es = "el perro y la casa que es de un amigo con pan"
        rows = [
            (1, f"{en}\n{en}\n{fr}"),           # en majority, 1/3 foreign
            (2, f"{fr}\n\n\n{es}\n{fr}"),       # newline runs; fr majority
            (3, "zzz qqq\nxxx yyy"),            # no stopwords anywhere
            (4, ""),
            (5, None),
            (6, f"{en}\nzzz qqq\n{en}"),        # und paragraph ignored
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in text.with_paragraph_langs(df).collect()}
        assert got[1].para_langs == ["en", "en", "fr"]
        assert got[1].majority_lang == "en"
        assert abs(got[1].foreign_para_frac - 1 / 3) < 1e-6
        assert got[2].para_langs == ["fr", "es", "fr"]
        assert got[2].majority_lang == "fr"
        assert got[3].majority_lang == "und"
        assert got[3].foreign_para_frac is None
        assert got[4].para_langs == [] and got[4].majority_lang == "und"
        assert got[5].para_langs is None and got[5].majority_lang is None
        assert got[6].para_langs == ["en", "und", "en"]
        assert got[6].foreign_para_frac == 0.0

    def test_paragraph_langs_match_python_model(self, spark):
        # exact replica of the operator's contract in pure python over a
        # seeded mixed-language corpus — every column, every doc
        import random

        from tempo_spark.pipeline.text import STOPWORDS

        rng = random.Random(7)
        vocab = {l: ws + ["xq%d" % i for i in range(6)]
                 for l, ws in STOPWORDS.items()}
        langs = sorted(STOPWORDS)

        def para(lang):
            return " ".join(rng.choice(vocab[lang]) for _ in range(12))

        rows = []
        for i in range(20):
            n = rng.randint(1, 6)
            rows.append((i, "\n".join(
                para(rng.choice(langs)) for _ in range(n))))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in text.with_paragraph_langs(df).collect()}

        def predict(p):
            toks = p.lower().split()
            hits = {l: sum(t in STOPWORDS[l] for t in toks) for l in langs}
            best = max(hits.values())
            if best == 0:
                return "und"
            return min(l for l in langs if hits[l] == best)

        for i, txt in rows:
            paras = [p for p in txt.split("\n") if p.strip()]
            pl = [predict(p) for p in paras]
            known = [l for l in pl if l != "und"]
            if known:
                maj = min(set(known),
                          key=lambda c: (-known.count(c), c))
                frac = (
                    __import__("math").floor(
                        sum(l != maj for l in known) / len(known) * 1e6 + 0.5
                    ) / 1e6
                )
            else:
                maj, frac = "und", None
            assert got[i].para_langs == pl, i
            assert got[i].majority_lang == maj, i
            if frac is None:
                assert got[i].foreign_para_frac is None, i
            else:
                assert got[i].foreign_para_frac == frac, i

    def test_remove_foreign_paragraphs(self, spark):
        en = "the cat is in the house and it is warm"
        fr = "le chat et la maison pour les amis dans un jour"
        rows = [(1, f"{en}\n{fr}\n{en}\nzzz qqq"), (2, None), (3, fr)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.text_clean
               for r in text.remove_foreign_paragraphs(df).collect()}
        assert got[1] == f"{en}\n{en}\nzzz qqq"  # fr dropped, und kept
        assert got[2] is None
        assert got[3] == fr  # single-language doc untouched
        strict = {r.doc_id: r.text_clean
                  for r in text.remove_foreign_paragraphs(
                      df, keep_und=False).collect()}
        assert strict[1] == f"{en}\n{en}"
        # strict mode drops und paragraphs even when the MAJORITY is und
        # (an all-undecided doc filters to '')
        und_doc = spark.createDataFrame(
            [(9, "zzz qqq\nxxx yyy")], "doc_id long, text string"
        )
        assert text.remove_foreign_paragraphs(
            und_doc, keep_und=False
        ).collect()[0].text_clean == ""

    def test_remove_foreign_paragraphs_reuse_path(self, spark):
        en = "the cat is in the house and it is warm"
        fr = "le chat et la maison pour les amis dans un jour"
        df = spark.createDataFrame(
            [(1, f"{en}\n{fr}\n{en}"), (2, None)], "doc_id long, text string"
        )
        analyzed = text.with_paragraph_langs(df)
        reused = {r.doc_id: r.text_clean
                  for r in text.remove_foreign_paragraphs(
                      analyzed, langs_col="para_langs",
                      majority_col="majority_lang").collect()}
        fresh = {r.doc_id: r.text_clean
                 for r in text.remove_foreign_paragraphs(df).collect()}
        assert reused == fresh
        # a langs array that cannot align with the paragraph split fails
        # LAZILY instead of silently dropping paragraphs
        bad = analyzed.withColumn(
            "para_langs", F.array(F.lit("en"))
        ).where(F.col("doc_id") == 1)
        with pytest.raises(Exception, match="length does not match"):
            text.remove_foreign_paragraphs(
                bad, langs_col="para_langs", majority_col="majority_lang"
            ).collect()
        with pytest.raises(ValueError, match="together"):
            text.remove_foreign_paragraphs(df, langs_col="para_langs")

    def test_paragraph_ops_stream_safe_and_guarded(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="already present"):
            text.with_paragraph_langs(df.withColumn("para_langs", F.lit("x")))
        with _pytest.raises(ValueError, match="reserved staging"):
            text.remove_foreign_paragraphs(
                df.withColumn("__tempo_pl", F.lit("x")))
        from tempo_spark.plans.inspect import count_exchanges

        assert count_exchanges(
            text.remove_foreign_paragraphs(
                text.with_paragraph_langs(df).drop("para_langs"))
        ) == 0

    def test_fingerprint_deterministic(self, docs):
        out1 = {r.doc_id: r.fingerprint for r in text.with_fingerprint(docs).collect()}
        out2 = {r.doc_id: r.fingerprint for r in text.with_fingerprint(docs).collect()}
        assert out1 == out2
        assert out1[0] == out1[1]  # identical text → identical fingerprint
        assert out1[0] != out1[3]

    def test_fingerprint_matches_python(self, docs):
        out = {r.doc_id: r.fingerprint for r in text.with_fingerprint(docs).collect()}
        def poly(s):
            h = 0
            for ch in s:
                h = (h * 31 + ord(ch)) % 1_000_000_007
            return h
        assert out[0] == poly("the quick brown fox jumps over the lazy dog")

    def test_bpe_ish_count(self, docs):
        out = {r.doc_id: r.n_bpe_tokens for r in text.with_bpe_ish_token_count(docs).collect()}
        assert out[0] >= 9


class TestTfidfKeywords:
    def _model(self, rows, k):
        # brute-force python TF-IDF over the same corpus
        import math

        docs = {i: t.lower().split() for i, t in rows}
        n = len(rows)
        dfreq = {}
        for toks in docs.values():
            for t in set(toks):
                dfreq[t] = dfreq.get(t, 0) + 1
        out = {}
        for i, toks in docs.items():
            tf = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            scored = sorted(
                ((t, c, c * (math.log((n + 1) / (dfreq[t] + 1)) + 1)) for t, c in tf.items()),
                key=lambda x: (-x[2], x[0]),
            )
            out[i] = [(t, c, dfreq[t]) for t, c, _ in scored[:k]]
        return out

    def test_matches_python_model(self, docs):
        rows = [(r.doc_id, r.text) for r in docs.collect()]
        want = self._model(rows, k=3)
        got = {}
        for r in text.tfidf_keywords(docs, k=3).collect():
            got.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.df_t))
        for i in got:
            got[i] = [(t, tf, dft) for _, t, tf, dft in sorted(got[i])]
        # empty doc has no terms
        assert 5 not in got
        assert {i: v for i, v in want.items() if v} == got

    def test_score_monotone_with_rank(self, docs):
        for rows in (
            text.tfidf_keywords(docs, k=10)
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("rank", "tfidf")).alias("rs"))
            .collect()
        ):
            ordered = sorted(rows.rs)
            assert all(a.tfidf >= b.tfidf for a, b in zip(ordered, ordered[1:]))

    def test_plan_shape(self, docs):
        out = text.tfidf_keywords(docs, k=3)
        out.collect()  # materialize so AQE finalizes exchange reuse
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the vocab branch reuses the tf branch's (id, term) exchange —
        # one corpus scan/tokenization total (the tf > 0 pruning guard)
        assert "ReusedExchange" in plan
        # rank<=k runs partial pre-shuffle; vocab + corpus count broadcast
        assert "WindowGroupLimit" in plan
        # (the AQE plan string repeats nodes in its Initial Plan section,
        # so membership, not counts)
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row N frame
        assert "BroadcastHashJoin" in plan  # the vocab join

    def test_grouped_idf(self, spark):
        import math

        rows = [
            (0, "en", "apple banana apple"),
            (1, "en", "banana cherry"),
            (2, "es", "manzana banana"),   # 'banana' common in en, unique-ish in es
            (3, None, "apple solo"),       # NULL group must still get keywords
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got = {}
        for r in text.tfidf_keywords(df, k=10, group_cols=["lang"]).collect():
            got.setdefault(r.doc_id, {})[r.term] = (r.tf, r.df_t, r.tfidf)
        # per-group stats: en has N=2; 'banana' df=2 in en but df=1 in es
        assert got[0]["banana"][1] == 2 and got[2]["banana"][1] == 1
        n_en, n_es = 2, 1
        assert got[0]["banana"][2] == pytest.approx(
            1 * (math.log((n_en + 1) / (2 + 1)) + 1)
        )
        assert got[2]["banana"][2] == pytest.approx(
            1 * (math.log((n_es + 1) / (1 + 1)) + 1)
        )
        # the NULL-lang group is a group of its own, not silently dropped
        assert set(got[3]) == {"apple", "solo"}
        assert got[3]["apple"][1] == 1  # df within the null group only

    def test_no_broadcast_vocab_same_result(self, docs):
        a = sorted(map(tuple, text.tfidf_keywords(docs, k=3).collect()))
        b = sorted(
            map(tuple, text.tfidf_keywords(docs, k=3, broadcast_vocab=False).collect())
        )
        assert a == b

    def test_bad_k(self, docs):
        with pytest.raises(ValueError):
            text.tfidf_keywords(docs, k=0)


class TestExactDedup:
    def test_exact(self, docs):
        out = dedup.exact_dedup(docs, "doc_id")
        ids = {r.doc_id for r in out.collect()}
        assert 0 in ids and 1 not in ids  # doc 1 is the dup, min id kept
        counts = {r.doc_id: r.dup_count for r in out.collect()}
        assert counts[0] == 2 and counts[3] == 1


class TestMinhash:
    def test_signature_shape(self, docs):
        out = dedup.with_minhash(docs.where("doc_id < 5"), num_hashes=16).collect()
        assert all(len(r.minhash) == 16 for r in out)

    def test_identical_same_signature(self, docs):
        rows = {r.doc_id: r.minhash for r in dedup.with_minhash(docs.where("doc_id < 2")).collect()}
        assert rows[0] == rows[1]

    def test_dedup_pipeline(self, docs):
        pairs = dedup.minhash_dedup(
            docs.where("length(text) > 0"), "doc_id", threshold=0.5
        ).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in found  # exact dup always found
        for r in pairs:
            assert r.jaccard >= 0.5

    def test_near_dup_found(self, docs):
        # fox/cat docs share most shingles — high bands makes collision likely
        pairs = dedup.minhash_dedup(
            docs.where("doc_id in (0, 2)"), "doc_id",
            num_hashes=16, bands=8, threshold=0.5,
        ).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(0, 2)}


class TestMd5HashFamily:
    """Engine-neutral md5_32 family: bit-identical across Spark / DuckDB /
    Python, so the driver's DuckDB oracle can replay the full MinHash and
    SimHash pipelines (see __spark_entry__._minhash_oracle)."""

    def test_md5_32_matches_python(self, spark):
        import hashlib

        df = spark.createDataFrame([("hello world",), ("",)], "s string")
        got = {r.s: r.h for r in df.select("s", dedup.md5_32(F.col("s")).alias("h")).collect()}
        for s in ("hello world", ""):
            assert got[s] == int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def test_minhash_md5_family_finds_dups(self, docs):
        pairs = dedup.minhash_dedup(
            docs.where("length(text) > 0"), "doc_id", threshold=0.5,
            hash_family="md5_32",
        ).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in found
        for r in pairs:
            assert r.jaccard >= 0.5

    def test_signature_sql_path_matches_column_path(self, docs):
        """with_minhash builds signatures via one parsed-SQL expr (plan-
        build latency); it must stay bit-identical to the Column-API chain
        for BOTH hash families (the md5_32 one is oracle-replayed)."""
        for fam in ("xxhash64", "md5_32"):
            base = dedup.with_hashed_shingles(
                docs.where("length(text) > 0"), "text", "__sh", 3, True, fam
            )
            a = {
                r.doc_id: r.s
                for r in base.select(
                    "doc_id", dedup._signature_from_hashes("__sh", 8, fam).alias("s")
                ).collect()
            }
            b = {
                r.doc_id: r.s
                for r in base.select(
                    "doc_id",
                    dedup._signature_from_hashes(F.col("__sh"), 8, fam).alias("s"),
                ).collect()
            }
            assert a == b, fam

    def test_band_keys_match_goldens(self, docs):
        """band_key_array renders the band index UNROLLED in one parsed
        expression; its keys must stay the recorded goldens for BOTH hash
        families (the md5_32 one is oracle-replayed). Recorded when a
        transform-over-sequence Column form still existed and produced
        the same keys."""
        x1 = [7348607902549138007, 5537226729408819102,
              -2556521613930649534, -2718116739688770437]
        m1 = ["234555507,453250354,326502040,379354069",
              "1012450783,97915277,179023756,19912458",
              "643267585,252548594,89652476,954795637",
              "100207871,1148248534,2154763604,58555995"]
        golden = {
            "xxhash64": {
                0: x1,
                1: x1,
                2: [3042449134924550288, -5508141772746431943,
                    -2556521613930649534, 3198010167011055753],
                3: [932480985312608814, -8929641210493931648,
                    -1264414883771712042, 8671943319378077571],
                4: [3010379813128016991, 1267786707116009971,
                    -486789909400872257, -4811712514981775110],
            },
            "md5_32": {
                0: m1,
                1: m1,
                2: [m1[0], "1359049159,97915277,179023756,19912458",
                    m1[2], m1[3]],
                3: ["1246595459,775102929,502190955,610990089",
                    "852343075,88397657,37919924,140276957",
                    "130256546,969871476,322660630,170343042",
                    "867056695,130235259,97252712,633196718"],
                4: ["690769249,59532982,299435953,221071153",
                    "38813829,271779845,128891262,652923071",
                    "237289074,549494568,101089611,1041695743",
                    "135338569,495588312,126633075,250256610"],
            },
        }
        for fam, want in golden.items():
            sigs = dedup.with_minhash(
                docs.where("length(text) > 0"), "text", "minhash",
                16, 3, True, hash_family=fam,
            )
            got = {
                r.doc_id: r.bk
                for r in sigs.select(
                    "doc_id", dedup.band_key_array("minhash", 4, fam).alias("bk")
                ).collect()
            }
            assert got == want, fam

    def test_minhash_dedup_tail_identical_both_families(self, docs):
        """minhash_dedup's verify tail went parsed-SQL (r13): full pair
        output (ids + rounded jaccard) must be unchanged for both
        families."""
        for fam in ("xxhash64", "md5_32"):
            pairs = sorted(
                map(
                    tuple,
                    dedup.minhash_dedup(
                        docs.where("length(text) > 0"), "doc_id",
                        threshold=0.3, shingle_k=3, use_words=True,
                        hash_family=fam,
                    ).collect(),
                )
            )
            assert (0, 1, 1.0) in [(a, b, j) for a, b, j in pairs], fam
            for _, _, j in pairs:
                assert 0.3 <= j <= 1.0, fam

    def test_simhash_md5_family_32bit(self, docs):
        hashed = dedup.with_simhash(
            docs.where("length(text) > 0"), id_col="doc_id",
            bits=32, hash_family="md5_32",
        )
        fps = {r.doc_id: r.simhash for r in hashed.collect()}
        assert fps[0] == fps[1]
        assert all(0 <= f < (1 << 32) for f in fps.values())
        pairs = dedup.simhash_near_dups(hashed, "doc_id", max_hamming=3, bits=32).collect()
        assert (0, 1) in {(r.id_a, r.id_b) for r in pairs}

class TestStreamingExports:
    def test_streaming_package_exports(self):
        import tempo_spark.streaming as streaming

        for name in streaming.__all__:
            assert callable(getattr(streaming, name)), name


class TestSimhash:
    def test_simhash_deterministic(self, docs):
        out = {r.doc_id: r.simhash for r in dedup.with_simhash(docs.where("doc_id < 5")).collect()}
        assert out[0] == out[1]

    def test_near_dups(self, docs):
        hashed = dedup.with_simhash(docs.where("length(text) > 0"))
        pairs = dedup.simhash_near_dups(hashed, "doc_id", max_hamming=16).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in found
        h = {(r.id_a, r.id_b): r.hamming for r in pairs}
        assert h[(0, 1)] == 0


class TestNgramJaccard:
    def test_pairs(self, docs):
        pairs = dedup.ngram_jaccard_pairs(
            docs.where("length(text) > 0"), "doc_id", shingle_k=3, threshold=0.3
        ).collect()
        found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
        assert found[(0, 1)] == 1.0
        assert (0, 2) in found


class TestSimilarity:
    def test_brute_force_topk(self, vectors):
        queries = vectors.where("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = similarity.brute_force_topk(vectors, queries, k=3).collect()
        ranked = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
        assert ranked[0] == 0  # self first (cosine 1.0)
        assert ranked[1] == 1  # nearest neighbor
        assert len(ranked) == 3

    def test_lsh_topk_recalls_close_neighbor(self, vectors):
        queries = vectors.where("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = similarity.lsh_topk(vectors, queries, k=3, n_planes=2, dim=3).collect()
        ids = {r.vec_id for r in out}
        assert 0 in ids  # the query itself is always in its own bucket

    def test_lsh_topk_requires_dim(self, vectors):
        with pytest.raises(ValueError, match="dim"):
            similarity.lsh_topk(vectors, vectors, k=3, n_planes=2)

    def test_embedding_near_dups(self, vectors):
        pairs = similarity.embedding_near_dups(
            vectors, threshold=0.95, n_planes=2, dim=3
        ).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in found
        assert (2, 3) in found


class TestSemanticDedup:
    @pytest.fixture(scope="class")
    def groups(self, spark):
        # three tight semantic groups + one lone vector; within-group
        # cosine ≈ 1, across-group ≈ 0
        rows = []
        bases = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
        vid = 0
        for b in bases:
            for j in range(3):
                rows.append((vid, [x + (0.001 * j if x else 0.0) for x in b]))
                vid += 1
        rows.append((vid, [0.5, 0.5, 0.5, 0.5]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_pairs_cluster_scoped(self, groups):
        pairs = similarity.semantic_dedup_pairs(
            groups, n_clusters=3, threshold=0.99, init="kmeans", seed=1
        ).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        # within-group pairs only; never across groups
        assert {(0, 1), (1, 2), (3, 4), (6, 7)} <= found
        assert all(a // 3 == b // 3 for a, b in found)

    def test_drop_keeps_one_per_group_and_loner(self, groups):
        out = similarity.semantic_dedup(
            groups, n_clusters=3, threshold=0.99, init="kmeans", seed=1
        )
        kept = sorted(r.vec_id for r in out.collect())
        assert len(kept) == 4 and 9 in kept  # one per group + the loner
        assert len({k // 3 for k in kept if k < 9}) == 3

    def test_far_centroid_vs_min_id(self, spark):
        # init="first" centroids are ids 0 and 1; ids 3 and 4 are a dup
        # pair in cell 0 — 4 is FARTHER from the centroid, so it survives
        # under the paper's rule, while keep="min" keeps 3
        rows = [
            (0, [1.0, 0.0]),    # centroid of cell 0
            (1, [0.0, -1.0]),   # centroid of cell 1, isolated
            (3, [0.9, 0.05]),   # cell 0, d = -2·0.9 + 1 = -0.80
            (4, [0.88, 0.06]),  # cell 0, d = -2·0.88 + 1 = -0.76 (farther)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        far = similarity.semantic_dedup(
            df, n_clusters=2, threshold=0.999, init="first", keep="far_centroid"
        )
        assert sorted(r.vec_id for r in far.collect()) == [0, 1, 4]
        mn = similarity.semantic_dedup(
            df, n_clusters=2, threshold=0.999, init="first", keep="min"
        )
        assert sorted(r.vec_id for r in mn.collect()) == [0, 1, 3]

    def test_flag_and_index_reuse(self, groups):
        idx = similarity.IVFIndex.build(
            groups, n_centroids=3, init="kmeans", seed=1
        )
        flagged = similarity.semantic_dedup(
            groups, threshold=0.99, index=idx, mode="flag", keep="min"
        )
        got = {r.vec_id: r.is_semantic_dup for r in flagged.collect()}
        assert got[9] is False and sum(got.values()) == 6  # 2 losers × 3 groups

    def test_validation(self, groups):
        with pytest.raises(ValueError, match="mode"):
            similarity.semantic_dedup(groups, mode="bogus")
        with pytest.raises(ValueError, match="keep"):
            similarity.semantic_dedup(groups, keep="bogus")


class TestEmbeddingDedupAgainstCorpus:
    @pytest.fixture(scope="class")
    def shard_corpus(self, spark):
        corpus = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (4, [-1.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        shard = spark.createDataFrame(
            [
                (10, [0.9, 0.1, 0.0]),   # near corpus 0 (cos ~0.994)
                (11, [0.0, 0.95, 0.05]), # near corpus 2 (cos ~0.999)
                (12, [0.5, -0.5, 0.7]),  # near nothing
            ],
            "vec_id long, embedding array<float>",
        )
        return shard, corpus

    def test_exact_pairs_and_modes(self, shard_corpus):
        shard, corpus = shard_corpus
        pairs = similarity.embedding_dedup_against_corpus(
            shard, corpus, threshold=0.99, exact=True, mode="pairs"
        ).collect()
        assert {(r.vec_id, r.corpus_id) for r in pairs} == {(10, 0), (11, 2)}
        assert all(r.cosine >= 0.99 for r in pairs)
        kept = similarity.embedding_dedup_against_corpus(
            shard, corpus, threshold=0.99, exact=True
        )
        assert [r.vec_id for r in kept.collect()] == [12]
        flags = {
            r.vec_id: r.is_near_dup
            for r in similarity.embedding_dedup_against_corpus(
                shard, corpus, threshold=0.99, exact=True, mode="flag"
            ).collect()
        }
        assert flags == {10: True, 11: True, 12: False}

    def test_bucketed_subset_of_exact(self, shard_corpus):
        shard, corpus = shard_corpus
        exact = {
            (r.vec_id, r.corpus_id)
            for r in similarity.embedding_dedup_against_corpus(
                shard, corpus, threshold=0.99, exact=True, mode="pairs"
            ).collect()
        }
        lsh = {
            (r.vec_id, r.corpus_id)
            for r in similarity.embedding_dedup_against_corpus(
                shard, corpus, threshold=0.99, dim=3, n_planes=2, mode="pairs"
            ).collect()
        }
        assert lsh <= exact

    def test_corpus_never_shuffled(self, shard_corpus):
        from tempo_spark.plans.inspect import count_exchanges

        shard, corpus = shard_corpus
        pairs = similarity.embedding_dedup_against_corpus(
            shard, corpus, threshold=0.99, exact=True, mode="pairs"
        )
        # scan -> broadcast join -> cosine filter: ZERO shuffles
        assert count_exchanges(pairs) == 0

    def test_validation(self, shard_corpus):
        shard, corpus = shard_corpus
        with pytest.raises(ValueError):
            similarity.embedding_dedup_against_corpus(shard, corpus, mode="x")
        with pytest.raises(ValueError):
            similarity.embedding_dedup_against_corpus(shard, corpus)  # no dim


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [(1, bytearray(b"fake-image-bytes-1")), (2, bytearray(b"fake-image-2"))]
        return spark.createDataFrame(rows, "media_id long, content binary")

    def test_fake_decode(self, media):
        out = multimodal.decode_images(media, fake=True).collect()
        assert len(out) == 2
        assert all(r.width >= 64 and r.height >= 64 and r.n_channels == 3 for r in out)
        # deterministic
        again = multimodal.decode_images(media, fake=True).collect()
        assert sorted((r.media_id, r.width, r.height) for r in out) == sorted(
            (r.media_id, r.width, r.height) for r in again
        )

    def test_real_decode_garbage_yields_nulls(self, media):
        # dirty-corpus tolerance: bytes matching no signature → NULL dims,
        # not a failed job (test_multimodal_codecs covers real formats)
        out = multimodal.decode_images(media, fake=False).collect()
        assert len(out) == 2
        assert all(
            r.width is None and r.height is None and r.n_channels is None
            for r in out
        )

    def test_fake_resize(self, media):
        decoded = multimodal.decode_images(media, fake=True)
        out = multimodal.resize_images(decoded, max_dim=100, fake=True).collect()
        assert len(out) == 2
        for r in out:
            assert max(r.resized_width, r.resized_height) <= 100
            if max(r.width, r.height) > 100:
                # aspect preserved under integer arithmetic
                if r.width >= r.height:
                    assert r.resized_width == 100
                    assert r.resized_height == (r.height * 100) // r.width
                else:
                    assert r.resized_height == 100
                    assert r.resized_width == (r.width * 100) // r.height

    def test_real_resize_garbage_passthrough(self, media):
        decoded = multimodal.decode_images(media, fake=True)
        out = multimodal.resize_images(decoded, fake=False).collect()
        assert all(
            r.resized_width is None and bytes(r.content) is not None for r in out
        )

    def test_frame_sampling(self, media):
        out = multimodal.sample_video_frames(media, fake=True).collect()
        assert len(out) >= 2
        assert all(r.frame_ts_ms == r.frame_idx * 1000 for r in out)

    def test_audio_features(self, media):
        out = multimodal.extract_audio_features(media, fake=True).collect()
        assert all(r.duration_ms == 2 * len(r.content) for r in out)

    def test_meta_placeholder(self, media):
        out = multimodal.with_media_meta_placeholder(media)
        assert "media_meta" in out.columns
        assert out.schema["media_meta"].dataType.fieldNames() == [
            "media_type", "mime", "width", "height", "duration_ms", "sample_rate"
        ]


class TestIVF:
    def test_ivf_topk_recall(self, spark):
        import random
        random.seed(7)
        # two tight clusters far apart + noise
        rows = []
        for i in range(40):
            base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
            rows.append((i, [b + random.gauss(0, 0.05) for b in base]))
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        from tempo_spark.pipeline.similarity import IVFIndex, brute_force_topk
        import pyspark.sql.functions as F

        idx = IVFIndex.build(vecs, n_centroids=4, seed=1)
        queries = vecs.where("vec_id in (0, 1)").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        approx = idx.topk(queries, k=5, nprobe=2).collect()
        exact = brute_force_topk(vecs, queries, k=5).collect()

        def tops(rows):
            out = {}
            for r in rows:
                out.setdefault(r.query_id, set()).add(r.vec_id)
            return out

        a, e = tops(approx), tops(exact)
        # with clearly-separated clusters and nprobe=2, recall should be full
        for qid in e:
            assert len(a[qid] & e[qid]) >= 4, (qid, a[qid], e[qid])

    def test_literal_and_broadcast_assignment_agree(self, spark, monkeypatch):
        """Past ASSIGN_LITERAL_MAX centroids ride a broadcast data frame
        instead of expression literals — cell assignment AND topk must be
        bit-identical between the paths (same IEEE score fold)."""
        from tempo_spark.pipeline import similarity as sim

        rows = [
            (i, [float((i * 7 + j * 5) % 13) / 13.0 for j in range(6)])
            for i in range(80)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = vecs.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        def snapshot():
            idx = sim.IVFIndex.build(vecs, n_centroids=12, init="first")
            assign = sorted((r.vec_id, r.cell) for r in idx.assigned.collect())
            top = sorted(
                (r.query_id, r.vec_id, r.rank, r.cosine)
                for r in idx.topk(queries, k=4, nprobe=3).collect()
            )
            return assign, top

        lit_assign, lit_top = snapshot()
        monkeypatch.setattr(sim, "ASSIGN_LITERAL_MAX", 0)
        join_assign, join_top = snapshot()
        assert lit_assign == join_assign
        assert lit_top == join_top
        # and the broadcast plan stays shuffle- and Python-free
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        assigned = sim._assign_cells(
            vecs, [[float(j) for j in range(6)] for _ in range(3)],
            "vec_id", "embedding",
        )
        assert count_exchanges(assigned) == 0
        assert count_python_evals(assigned) == 0

    def test_arrow_assignment_matches_broadcast(self, spark, monkeypatch):
        """Past ASSIGN_ARROW_MIN_OPS per-row work, assignment runs as an
        Arrow matmul kernel — same cells as the HOF paths on non-tied data,
        NULL for null/wrong-width vectors."""
        from tempo_spark.pipeline import similarity as sim

        rows = [
            (i, [float((i * 7 + j * 5) % 13) / 13.0 for j in range(6)])
            for i in range(80)
        ]
        rows += [
            (900, None),                                    # null vector
            (901, [1.0, 2.0]),                              # wrong width
            # r9: null/NaN ELEMENTS must NULL the cell too — the r6 fix
            # covered whole-null vectors only; a null element otherwise
            # funneled the row into cell 0 via null-first struct sort /
            # NaN argmin
            (902, [1.0, None, 2.0, 3.0, 4.0, 5.0]),
            (903, [float("nan")] * 6),
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        centers = [[float((c * 3 + j) % 7) for j in range(6)] for c in range(12)]

        lit = {
            r.vec_id: r.cell
            for r in sim._assign_cells(vecs, centers, "vec_id", "embedding").collect()
        }
        monkeypatch.setattr(sim, "ASSIGN_LITERAL_MAX", 0)
        bc = {
            r.vec_id: r.cell
            for r in sim._assign_cells(vecs, centers, "vec_id", "embedding").collect()
        }
        monkeypatch.setattr(sim, "ASSIGN_ARROW_MIN_OPS", 0)
        ar = {
            r.vec_id: r.cell
            for r in sim._assign_cells(vecs, centers, "vec_id", "embedding").collect()
        }
        assert ar == bc == lit
        for vid in (900, 901, 902, 903):
            assert ar[vid] is None, vid

    def test_local_lloyd_build(self, spark):
        """init_mode='local': driver-side seeded numpy Lloyd fit (r8) —
        deterministic across calls, partitions the corpus, respects
        fit_sample_mod, and raises clearly when the fit set < k."""
        from tempo_spark.pipeline.similarity import IVFIndex

        rows = [
            (i, [float((i % 4) * 10), float(((i + 1) % 4) * 10), float(i % 2)])
            for i in range(200)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = IVFIndex.build(vecs, n_centroids=4, seed=7, init_mode="local")
        b = IVFIndex.build(vecs, n_centroids=4, seed=7, init_mode="local")
        assert a.centers == b.centers  # deterministic
        got = {r.vec_id: r.cell for r in a.assigned.collect()}
        assert len(got) == 200 and all(v is not None for v in got.values())
        # clusters separate the 4 planted groups
        by_group = {}
        for i, _ in rows:
            by_group.setdefault(i % 4, set()).add(got[i])
        assert all(len(cells) == 1 for cells in by_group.values())
        # sampled fit still assigns every row
        s = IVFIndex.build(
            vecs, n_centroids=4, seed=7, init_mode="local", fit_sample_mod=3
        )
        assert s.assigned.count() == 200
        import pytest as _pytest

        with _pytest.raises(ValueError, match="usable rows < k"):
            IVFIndex.build(
                vecs.limit(2), n_centroids=4, seed=7, init_mode="local"
            )

    def test_fit_collect_cap_guard(self, spark, monkeypatch):
        """r10: the quantizer-fit collects are capped at MAX_FIT_ROWS —
        an unsampled corpus-scale fit raises with the fit_sample_mod fix
        instead of pulling the corpus through the driver."""
        import pytest as _pytest

        from tempo_spark.pipeline import similarity as sim

        rows = [(i, [float(i), 0.0]) for i in range(40)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        monkeypatch.setattr(sim, "MAX_FIT_ROWS", 10)
        with _pytest.raises(ValueError, match="fit_sample_mod"):
            sim.IVFIndex.build(vecs, n_centroids=2, seed=1, init_mode="local")
        with _pytest.raises(ValueError, match="fit_sample_mod"):
            sim.PQCodec.train(vecs, m=2, ksub=2, seed=1)
        # under the cap (via sampling) both succeed unchanged
        idx = sim.IVFIndex.build(
            vecs, n_centroids=2, seed=1, init_mode="local", fit_sample_mod=8
        )
        assert idx.assigned.count() == 40
        codec = sim.PQCodec.train(vecs, m=2, ksub=2, seed=1, fit_sample_mod=8)
        assert codec.m == 2

    def test_local_lloyd_drops_nonfinite_sample_vectors(self, spark):
        """r9 ADVICE: a fit-sample vector with a NULL element becomes NaN
        and one NaN poisons a centroid mean — such vectors are dropped
        from the fit (the distributed assign paths NULL them the same
        way), so every centroid stays finite."""
        import math

        from tempo_spark.pipeline.similarity import IVFIndex

        rows = [
            (i, [float((i % 4) * 10), float(((i + 1) % 4) * 10), float(i % 2)])
            for i in range(200)
        ]
        rows += [(1000 + j, [1.0, None, 2.0]) for j in range(5)]
        vecs = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        idx = IVFIndex.build(vecs, n_centroids=4, seed=7, init_mode="local")
        assert all(
            math.isfinite(x) for c in idx.centers for x in c
        )
        # centers match a fit over the clean rows alone
        clean = spark.createDataFrame(
            rows[:200], "vec_id long, embedding array<float>"
        )
        ref = IVFIndex.build(clean, n_centroids=4, seed=7, init_mode="local")
        assert idx.centers == ref.centers

    def test_ivf_cells_partition_corpus(self, spark):
        rows = [(i, [float(i % 3), float((i + 1) % 3), 0.0]) for i in range(30)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from tempo_spark.pipeline.similarity import IVFIndex

        idx = IVFIndex.build(vecs, n_centroids=3, seed=2)
        assert idx.assigned.count() == 30
        n_cells = idx.assigned.select("cell").distinct().count()
        assert 1 <= n_cells <= 3


class TestConnectedComponents:
    def test_components_and_dedup(self, spark):
        from tempo_spark.pipeline.components import connected_components, near_dedup

        # clusters: {1,2,3} via chain, {5,6}; 9 isolated (no pairs)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        comps = {r.id: r.component for r in connected_components(pairs).collect()}
        assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

        docs = spark.createDataFrame(
            [(i, f"doc{i}") for i in (1, 2, 3, 5, 6, 9)], "doc_id long, text string"
        )
        kept = sorted(r.doc_id for r in near_dedup(docs, pairs, "doc_id").collect())
        assert kept == [1, 5, 9]

    def test_long_chain_converges(self, spark):
        from tempo_spark.pipeline.components import connected_components

        # a chain 0-1-2-...-7: worst case for label propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(7)], "id_a long, id_b long"
        )
        comps = {r.id: r.component for r in connected_components(pairs).collect()}
        assert set(comps.values()) == {0}

    def test_driver_path_matches_distributed(self, spark):
        """The small-graph union-find fast path must label exactly like the
        distributed loop — including a null endpoint (never unions, labels
        itself) and string ids."""
        import random

        from tempo_spark.pipeline.components import connected_components

        rng = random.Random(11)
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        fast = {r.id: r.component for r in connected_components(pairs).collect()}
        slow = {
            r.id: r.component
            for r in connected_components(pairs, driver_threshold=0).collect()
        }
        assert fast == slow and len(fast) > 0

        spairs = spark.createDataFrame(
            [("a", "b"), ("c", None)], "id_a string, id_b string"
        )
        fast_s = {r.id: r.component for r in connected_components(spairs).collect()}
        slow_s = {
            r.id: r.component
            for r in connected_components(spairs, driver_threshold=0).collect()
        }
        assert fast_s == slow_s
        # null RECEIVES its neighbor's label but never propagates its own
        assert fast_s["c"] == "c" and fast_s[None] == "c"
        assert fast_s["a"] == "a" and fast_s["b"] == "a"

    def test_pointer_jumping_log_rounds(self, spark):
        """Pointer jumping must close a 31-hop chain in ≤6 rounds (log
        diameter); one-hop label propagation provably cannot."""
        from tempo_spark.pipeline.components import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(31)], "id_a long, id_b long"
        )
        comps = {
            r.id: r.component
            for r in connected_components(
                pairs, max_iter=6, driver_threshold=0
            ).collect()
        }
        assert set(comps.values()) == {0} and len(comps) == 32
        lab = {
            r.id: r.component
            for r in connected_components(
                pairs, max_iter=6, algorithm="label", driver_threshold=0
            ).collect()
        }
        assert set(lab.values()) != {0}

    def test_lineage_bounded_across_rounds(self, spark):
        """The iterative loop must checkpoint each round: the returned frame
        reads the LAST round's materialized snapshot, not the accumulated
        join/union lineage (which would be O(k²) total work at scale)."""
        from tempo_spark.pipeline.components import connected_components

        # 12-hop chain → ≥12 propagation rounds at max_iter=20
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "id_a long, id_b long"
        )
        labels = connected_components(pairs, max_iter=20, driver_threshold=0)
        plan = labels._jdf.queryExecution().analyzed().toString()
        # a checkpointed result is a scan (+ projection) — no join/aggregate
        # chain may survive into the final plan regardless of round count
        assert "Join" not in plan and "Aggregate" not in plan, plan
        comps = {r.id: r.component for r in labels.collect()}
        assert set(comps.values()) == {0} and len(comps) == 13

    def test_reliable_checkpoint_dir_used(self, spark, tmp_path):
        from tempo_spark.pipeline.components import connected_components

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            pairs = spark.createDataFrame(
                [(1, 2), (2, 3)], "id_a long, id_b long"
            )
            comps = {
                r.id: r.component
                for r in connected_components(pairs, driver_threshold=0).collect()
            }
            assert comps == {1: 1, 2: 1, 3: 1}
            # the reliable path actually wrote snapshot files
            assert any((tmp_path / "ckpt").rglob("*"))
        finally:
            # clear the dir (tmp_path is deleted after this test; leaving it
            # set would break later checkpoints) — Scala var setter via py4j
            sc = spark.sparkContext
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )
            assert sc.getCheckpointDir() is None


class TestStreamingBars:
    def test_bars_stream(self, spark, tmp_path):
        import datetime as dt

        d = str(tmp_path / "bars_in")
        rows = [
            ("A", dt.datetime(2020, 1, 1, 0, 0, 10), 10.0),
            ("A", dt.datetime(2020, 1, 1, 0, 0, 20), 5.0),
            ("A", dt.datetime(2020, 1, 1, 0, 0, 50), 8.0),
        ]
        spark.createDataFrame(rows, "k string, event_ts timestamp, v double").write.mode(
            "overwrite").parquet(d)
        from tempo_spark.streaming.resample import streaming_bars

        sdf = spark.readStream.schema("k string, event_ts timestamp, v double").parquet(d)
        bars = streaming_bars(sdf, "event_ts", ["k"], "1 minute", ["v"])
        q = (
            bars.writeStream.format("memory").queryName("bars_out")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = spark.table("bars_out").collect()
        assert len(out) == 1
        r = out[0]
        assert (r.open_v, r.low_v, r.high_v, r.close_v) == (10.0, 5.0, 10.0, 8.0)


class TestIVFPersistence:
    def test_save_load_roundtrip_and_pruning(self, spark, tmp_path):
        import random

        import pyspark.sql.functions as F

        from tempo_spark.pipeline.similarity import IVFIndex

        random.seed(11)
        rows = []
        for i in range(60):
            base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
            rows.append((i, [b + random.gauss(0, 0.05) for b in base]))
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        idx = IVFIndex.build(vecs, n_centroids=2, seed=3)
        path = str(tmp_path / "ivf")
        idx.save(path)

        loaded = IVFIndex.load(spark, path)
        assert loaded.centers == [list(map(float, c)) for c in idx.centers]

        queries = vecs.where("vec_id in (0, 1)").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        mem = {(r.query_id, r.vec_id, r.rank) for r in idx.topk(queries, k=3, nprobe=1).collect()}
        disk = {(r.query_id, r.vec_id, r.rank) for r in loaded.topk(queries, k=3, nprobe=1).collect()}
        assert mem == disk and len(disk) == 6

        # the corpus layout is hive-partitioned by cell -> an equality filter
        # prunes to one directory
        import os

        dirs = [d for d in os.listdir(f"{path}/corpus") if d.startswith("cell=")]
        assert len(dirs) == 2
        plan = loaded.assigned.where(F.col("cell") == 0)._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(cell" in plan or "cell#" in plan


class TestPQ:
    """Product quantization (r9): train/encode/reconstruct/ADC/IVF-PQ."""

    def _vecs(self, spark, n=120, dim=8, n_groups=4):
        import random

        random.seed(11)
        bases = [
            [10.0 * ((g >> b) & 1) for b in range(dim)] for g in range(n_groups)
        ]
        rows = [
            (
                i,
                [
                    bases[i % n_groups][d] + random.gauss(0, 0.05)
                    for d in range(dim)
                ],
            )
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_train_deterministic_and_shapes(self, spark):
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        a = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        b = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        assert a.codebooks == b.codebooks
        assert a.m == 2 and a.ksub == 4 and a.dsub == 4 and a.dim == 8
        with pytest.raises(ValueError, match="not divisible"):
            PQCodec.train(vecs, m=3, ksub=4)

    def test_encode_paths_agree_and_null_handling(self, spark, monkeypatch):
        import tempo_spark.pipeline.similarity as sim
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        codec = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        bad = spark.createDataFrame(
            [
                (900, None),
                (901, [1.0, 2.0]),
                # r9 review: a NULL ELEMENT silently encoded to codeword 0
                # (null-first struct sort / NaN argmin) — must NULL instead
                (902, [1.0, None, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]),
                (903, [float("nan")] * 8),
            ],
            "vec_id long, embedding array<float>",
        )
        allv = vecs.unionByName(bad)
        lit = {
            r.vec_id: r.pq_code and list(r.pq_code)
            for r in codec.encode(allv).collect()
        }
        monkeypatch.setattr(sim, "ASSIGN_LITERAL_MAX", 0)
        arw = {
            r.vec_id: r.pq_code and list(r.pq_code)
            for r in codec.encode(allv).collect()
        }
        assert lit == arw  # literal vs Arrow parity (data is off-tie)
        assert lit[900] is None and lit[901] is None
        assert lit[902] is None and lit[903] is None
        assert all(
            v is None or all(0 <= c < 4 for c in v) for v in lit.values()
        )

    def test_reconstruct_near_original(self, spark):
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        codec = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        out = codec.reconstruct(codec.encode(vecs)).collect()
        for r in out:
            err = max(
                abs(a - b) for a, b in zip(r.embedding, r.pq_vec)
            )
            # 4 planted group patterns per 4-wide subspace, ksub=4 -> each
            # sub-codeword sits on a group mean; noise sigma 0.05
            assert err < 0.5, (r.vec_id, err)

    def test_adc_topk_matches_numpy_model(self, spark):
        import numpy as np

        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        codec = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        codes = codec.encode(vecs)
        queries = vecs.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = {
            (r.query_id, r.rank): (r.vec_id, round(r.adc_dist, 9))
            for r in codec.adc_topk(codes, queries, k=4).collect()
        }
        # numpy replay of the same surrogate
        data = {r.vec_id: list(r.embedding) for r in vecs.collect()}
        code_map = {
            r.vec_id: list(r.pq_code) for r in codes.collect()
        }
        C = [np.asarray(b) for b in codec.codebooks]
        for qid in (0, 1, 2):
            q = np.asarray(data[qid])
            scores = []
            for vid, code in code_map.items():
                s = 0.0
                for j, cj in enumerate(code):
                    sub = q[j * codec.dsub : (j + 1) * codec.dsub]
                    c = C[j][cj]
                    s += float((c * c).sum() - 2.0 * (sub * c).sum())
                scores.append((s, vid))
            scores.sort(key=lambda t: (t[0], t[1]))
            for rk in range(1, 5):
                vid, d = got[(qid, rk)]
                assert vid == scores[rk - 1][1]

    def test_ivf_pq_and_recall(self, spark):
        from tempo_spark.pipeline.similarity import (
            IVFIndex,
            PQCodec,
            ann_recall,
            brute_force_topk,
            ivf_pq_topk,
            normalize_embeddings,
        )

        vecs = normalize_embeddings(self._vecs(spark, n=200))
        idx = IVFIndex.build(vecs, n_centroids=4, seed=7, init_mode="local")
        codec = PQCodec.train(vecs, m=2, ksub=8, seed=5)
        # groups 1-3 (group 0's base is all-zero, so its normalized
        # vectors are pure noise directions — no cluster to find)
        queries = vecs.where(F.col("vec_id").isin(1, 2, 3)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        approx = ivf_pq_topk(idx, codec, queries, k=5, nprobe=2)
        # within a planted group every member shares one PQ code, so ADC
        # ties and the id tiebreak picks a DIFFERENT 5 of the ~50
        # group members than exact cosine's noise-ranking — the right
        # property is group membership, not id-exact recall
        for r in approx.collect():
            assert r.vec_id % 4 == r.query_id % 4, r
        # and at k = group size the tie set IS the answer set: id-exact
        # recall against brute force must be high
        approx50 = ivf_pq_topk(idx, codec, queries, k=50, nprobe=2)
        exact50 = brute_force_topk(vecs, queries, k=50)
        rec = (
            ann_recall(approx50, exact50)
            .agg(F.avg("recall").alias("r"))
            .collect()[0]["r"]
        )
        assert rec >= 0.9, rec

    def test_save_load_roundtrip(self, spark, tmp_path):
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        codec = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        p = str(tmp_path / "pq")
        codec.save(spark, p)
        back = PQCodec.load(spark, p)
        assert back.codebooks == codec.codebooks

    def test_null_element_query_excluded_both_paths(
        self, spark, monkeypatch
    ):
        """r9 review: a query with a NULL element produced an all-NULL
        LUT that slipped the isNotNull guard on the literal path (its
        NULL adc_dist sorted FIRST) while the Arrow path's NaNs sorted
        last — both paths must EXCLUDE the query."""
        import tempo_spark.pipeline.similarity as sim
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        codec = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        codes = codec.encode(vecs)
        queries = spark.createDataFrame(
            [
                (0, [10.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0]),
                (1, [1.0, None, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]),
            ],
            "query_id long, embedding array<float>",
        )
        lit = codec.adc_topk(codes, queries, k=3).collect()
        assert {r.query_id for r in lit} == {0}
        assert all(r.adc_dist is not None for r in lit)
        monkeypatch.setattr(sim, "ASSIGN_LITERAL_MAX", 0)
        arw = codec.adc_topk(codes, queries, k=3).collect()
        assert {r.query_id for r in arw} == {0}

    def test_ivf_pq_requires_cell_column(self, spark):
        from tempo_spark.pipeline.similarity import (
            IVFIndex,
            PQCodec,
            ivf_pq_topk,
        )

        vecs = self._vecs(spark)
        idx = IVFIndex.build(vecs, n_centroids=2, seed=7, init_mode="local")
        codec = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        queries = vecs.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        with pytest.raises(ValueError, match="cell"):
            ivf_pq_topk(idx, codec, queries, codes_df=codec.encode(vecs))

    def test_residual_codec(self, spark):
        """r9: PQCodec.train(index=) quantizes coarse residuals (the
        faiss IVF,PQ default) — reconstruction through centroid+residual
        beats raw-PQ on clustered data, the guards fire, and the flag
        round-trips save/load."""
        import numpy as np

        from tempo_spark.pipeline.similarity import (
            IVFIndex,
            PQCodec,
            ivf_pq_topk,
        )

        vecs = self._vecs(spark, n=200)
        idx = IVFIndex.build(vecs, n_centroids=4, seed=7, init_mode="local")
        raw = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        res = PQCodec.train(vecs, m=2, ksub=4, seed=5, index=idx)
        assert res.residual and not raw.residual

        data = {r.vec_id: np.asarray(r.embedding, dtype=float)
                for r in vecs.collect()}
        cents = [np.asarray(c) for c in idx.centers]
        assigned = {r[0]: r[2] for r in idx.assigned.collect()}
        rcodes = {
            r.vec_id: list(r.pq_code)
            for r in res.encode(idx.assigned, vec_col="__vec", index=idx)
            .select("vec_id", "pq_code").collect()
        }
        qcodes = {
            r.vec_id: list(r.pq_code)
            for r in raw.encode(vecs).select("vec_id", "pq_code").collect()
        }

        def recon(codec, code, cell=None):
            out = np.concatenate(
                [np.asarray(codec.codebooks[j][code[j]]) for j in range(2)]
            )
            return out + cents[cell] if cell is not None else out

        err_res = max(
            np.abs(recon(res, rcodes[i], assigned[i]) - data[i]).max()
            for i in data
        )
        err_raw = max(
            np.abs(recon(raw, qcodes[i]) - data[i]).max() for i in data
        )
        assert err_res <= err_raw + 1e-9

        # search: numpy replay of the per-(query, probed cell) ADC
        got = {
            (r.query_id, r.rank): r.vec_id
            for r in ivf_pq_topk(
                idx, res, vecs.where(F.col("vec_id").isin(1, 2)).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                ), k=3, nprobe=2,
            ).collect()
        }
        for qid in (1, 2):
            q = data[qid]
            probe = sorted(
                range(len(cents)),
                key=lambda c: (((cents[c]) ** 2).sum() - 2 * (q * cents[c]).sum(), c),
            )[:2]
            cand = []
            for vid, cell in assigned.items():
                if cell not in probe:
                    continue
                qr = q - cents[cell]
                # coarse term ||q - c_cell||^2 + LUT surrogate = TRUE
                # squared L2 to the reconstruction (r9 review: without
                # it, cross-cell ranks at nprobe>1 prefer far cells)
                s = float((qr * qr).sum())
                recon_parts = []
                for j, cj in enumerate(rcodes[vid]):
                    c = np.asarray(res.codebooks[j][cj])
                    sub = qr[j * res.dsub : (j + 1) * res.dsub]
                    s += float((c * c).sum() - 2.0 * (sub * c).sum())
                    recon_parts.append(c)
                # and it really IS the true L2 to cent + r-hat
                recon_full = cents[cell] + np.concatenate(recon_parts)
                assert abs(s - float(((q - recon_full) ** 2).sum())) < 1e-6
                cand.append((s, vid))
            cand.sort(key=lambda t: (t[0], t[1]))
            for rk in range(1, 4):
                assert got[(qid, rk)] == cand[rk - 1][1], (qid, rk)

        with pytest.raises(ValueError, match="residual"):
            res.encode(vecs)
        with pytest.raises(ValueError, match="residual"):
            res.adc_topk(
                raw.encode(vecs),
                vecs.limit(1).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                ),
            )
        # a flat codec must REJECT index= rather than silently encode raw
        with pytest.raises(ValueError, match="WITHOUT"):
            raw.encode(idx.assigned, vec_col="__vec", index=idx)
        # encode passes every input column through unchanged — the
        # residual lives in a dropped staging column
        enc_cols = res.encode(
            idx.assigned, vec_col="__vec", index=idx
        )
        assert set(enc_cols.columns) == {"vec_id", "__vec", "cell", "pq_code"}
        orig_vec = {r[0]: list(r[1]) for r in idx.assigned.collect()}
        after_vec = {
            r["vec_id"]: list(r["__vec"])
            for r in enc_cols.select("vec_id", "__vec").collect()
        }
        assert after_vec == orig_vec

    def test_residual_flag_roundtrip(self, spark, tmp_path):
        from tempo_spark.pipeline.similarity import IVFIndex, PQCodec

        vecs = self._vecs(spark)
        idx = IVFIndex.build(vecs, n_centroids=2, seed=7, init_mode="local")
        res = PQCodec.train(vecs, m=2, ksub=4, seed=5, index=idx)
        p = str(tmp_path / "pq_res")
        res.save(spark, p)
        back = PQCodec.load(spark, p)
        assert back.residual is True
        assert back.codebooks == res.codebooks

    def test_opq_rotation(self, spark):
        """r9 OPQ (Ge et al.): when informative variance straddles the
        subspace boundary, the learned rotation must cut quantization
        error vs plain PQ; rotation is orthonormal and deterministic;
        ADC search matches the numpy replay in rotated space; guards
        fire."""
        import math

        import numpy as np

        from tempo_spark.pipeline.similarity import PQCodec

        # two independent 4-level factors a (dim 0) and b (dim 2), then a
        # 45° rotation of dims 0↔2 — ACROSS the m=2/dsub=2 boundary: each
        # mixed subspace sees (a∓b)/√2 with 16 combinations (> ksub=4, so
        # plain PQ must err), while the inverse rotation separates them
        # back to 4 levels per subspace (OPQ can quantize exactly)
        rng = np.random.default_rng(3)
        theta = math.pi / 4
        mix = np.eye(4)
        mix[0, 0] = mix[2, 2] = math.cos(theta)
        mix[0, 2] = -math.sin(theta)
        mix[2, 0] = math.sin(theta)
        # distinct factor variances: near-equal eigenvalues leave the
        # eigenbasis (and so the parametric init) ill-determined
        lat = np.zeros((240, 4))
        lat[:, 0] = rng.choice([0.0, 10.0, 20.0, 30.0], size=240)
        lat[:, 2] = rng.choice([0.0, 4.0, 8.0, 12.0], size=240)
        X = lat @ mix + rng.normal(0, 0.03, size=(240, 4))
        vecs = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(240)],
            "vec_id long, embedding array<float>",
        )
        plain = PQCodec.train(vecs, m=2, ksub=4, seed=5)
        opq = PQCodec.train(vecs, m=2, ksub=4, seed=5, opq_iters=10)
        opq2 = PQCodec.train(vecs, m=2, ksub=4, seed=5, opq_iters=10)
        assert opq.rotation == opq2.rotation  # deterministic
        R = np.asarray(opq.rotation)
        assert np.abs(R @ R.T - np.eye(4)).max() < 1e-9  # orthonormal

        def err(codec, rotate):
            Rm = np.asarray(codec.rotation) if rotate else np.eye(4)
            codes = {
                r.vec_id: list(r.pq_code)
                for r in codec.encode(vecs).collect()
            }
            tot = 0.0
            for i in range(240):
                rec_rot = np.concatenate(
                    [
                        np.asarray(codec.codebooks[j][codes[i][j]])
                        for j in range(2)
                    ]
                )
                rec = rec_rot @ Rm.T  # back to original space
                tot += float(((X[i] - rec) ** 2).sum())
            return tot

        e_plain, e_opq = err(plain, False), err(opq, True)
        assert e_opq < e_plain * 0.2, (e_plain, e_opq)

        # ADC search (Arrow path forced by the rotation) == numpy replay
        # in rotated space
        queries = vecs.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        codes = opq.encode(vecs)
        got = {
            (r.query_id, r.rank): r.vec_id
            for r in opq.adc_topk(codes, queries, k=3).collect()
        }
        code_map = {
            r.vec_id: list(r.pq_code) for r in codes.collect()
        }
        for qid in (0, 1):
            qr = X[qid] @ R
            cand = []
            for vid, code in code_map.items():
                s = 0.0
                for j, cj in enumerate(code):
                    c = np.asarray(opq.codebooks[j][cj])
                    sub = qr[j * 2 : (j + 1) * 2]
                    s += float((c * c).sum() - 2.0 * (sub * c).sum())
                cand.append((s, vid))
            cand.sort(key=lambda t: (t[0], t[1]))
            for rk in range(1, 4):
                assert got[(qid, rk)] == cand[rk - 1][1], (qid, rk)

        with pytest.raises(ValueError, match="replayable"):
            PQCodec.train(vecs, m=2, ksub=4, init="first", opq_iters=2)
        with pytest.raises(ValueError, match="rotated"):
            opq.reconstruct(codes)

    def test_opq_save_load(self, spark, tmp_path):
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        opq = PQCodec.train(vecs, m=2, ksub=4, seed=5, opq_iters=3)
        p = str(tmp_path / "opq")
        opq.save(spark, p)
        back = PQCodec.load(spark, p)
        assert back.rotation == opq.rotation
        assert back.codebooks == opq.codebooks
        assert back.residual is False

    def test_kmeanspp_duplicate_heavy_fit(self, spark):
        """r9 review: the zero-mass k-means++ fallback must not re-pick a
        chosen index (two identical seeds never split) — a fit set with
        fewer distinct points than k still yields k centers covering
        every distinct cluster."""
        from tempo_spark.pipeline.similarity import _local_lloyd

        vecs = [[0.0, 0.0]] * 6 + [[1.0, 1.0]] * 6
        centers = _local_lloyd(vecs, 4, seed=3, max_iter=5)
        assert len(centers) == 4
        reps = {tuple(c) for c in centers}
        assert (0.0, 0.0) in reps and (1.0, 1.0) in reps


class TestLinearClassifier:
    """fastText-style linear quality filter (r9): MLlib-trained, pure-JVM
    expression scoring."""

    def _labeled(self, spark):
        rows = []
        for i in range(60):
            rows.append((2 * i, "useful prose about science and careful data analysis", 1))
            rows.append((2 * i + 1, "buy cheap pills click winner casino bonus spam", 0))
        return spark.createDataFrame(rows, "doc_id long, text string, label int")

    def test_train_and_separate(self, spark):
        from tempo_spark.pipeline.classifier import train_linear_classifier

        model = train_linear_classifier(self._labeled(spark), n_features=256)
        test = spark.createDataFrame(
            [
                (0, "careful science analysis of data"),
                (1, "cheap casino bonus click spam winner"),
                (2, None),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in model.score(test).collect()}
        assert got[0].clf_prob > 0.9
        assert got[1].clf_prob < 0.1
        assert got[2].clf_logit is None and got[2].clf_prob is None
        # empty text = intercept alone
        assert abs(got[3].clf_logit - model.intercept) < 1e-12

    def test_scoring_logit_matches_trained_coefficients(self, spark):
        """Training features and scoring lookups use the SAME bucket
        expression (HashingTF's hashUnsafeBytes2 does NOT match F.hash —
        measured, hence the shared bucket): the scored logit must equal
        the python dot of coefficients with the doc's bucket counts."""
        from collections import Counter

        from tempo_spark.pipeline.classifier import (
            _bucket,
            train_linear_classifier,
        )

        model = train_linear_classifier(self._labeled(spark), n_features=256)
        texts = [
            "careful science analysis of data",
            "cheap casino bonus click spam winner",
            "science spam science spam",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r.doc_id: r.clf_logit for r in model.score(df).collect()}
        buckets = {
            r.doc_id: list(r.b)
            for r in df.select(
                "doc_id",
                F.transform(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: _bucket(t, 256, "murmur3").cast("int"),
                ).alias("b"),
            ).collect()
        }
        for i in range(len(texts)):
            exp = model.intercept
            for b, cnt in Counter(buckets[i]).items():
                exp += model.weights[b] * cnt
            assert abs(got[i] - exp) < 1e-9, (i, got[i], exp)

    def test_logit_matches_numpy_model(self, spark):
        import math

        from tempo_spark.pipeline.classifier import LinearTextModel
        from tempo_spark.pipeline.dedup import md5_32  # noqa: F401

        import hashlib

        n = 32
        weights = [((b * 7) % 11 - 5) / 10.0 for b in range(n)]
        model = LinearTextModel(weights, 0.25, hash_family="md5_32")
        texts = ["one two three", "two two two", "", "solo"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r.doc_id: r.clf_logit for r in model.score(df).collect()}

        def bucket(tok: str) -> int:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            return h % n

        for i, t in enumerate(texts):
            toks = t.split() if t.strip() else []
            exp = 0.25
            for tok in toks:
                exp = exp + weights[bucket(tok)]
            assert abs(got[i] - exp) < 1e-12, (i, got[i], exp)

    def test_save_load_roundtrip(self, spark, tmp_path):
        from tempo_spark.pipeline.classifier import (
            LinearTextModel,
            train_linear_classifier,
        )

        model = train_linear_classifier(self._labeled(spark), n_features=128)
        p = str(tmp_path / "clf")
        model.save(spark, p)
        back = LinearTextModel.load(spark, p)
        assert back.weights == model.weights
        assert back.intercept == model.intercept
        assert back.hash_family == "murmur3"


class TestIVFIncremental:
    def test_add_assigns_to_existing_cells(self, spark):
        import random

        from tempo_spark.pipeline.similarity import IVFIndex

        random.seed(7)
        rows = []
        for i in range(40):
            base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
            rows.append((i, [b + random.gauss(0, 0.05) for b in base]))
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        idx = IVFIndex.build(vecs, n_centroids=2, seed=3)
        before = {r.cell: r.n for r in idx.cell_sizes().collect()}

        # new shard: clearly x-axis vectors must land in the x cluster's cell
        new = spark.createDataFrame(
            [(100, [0.98, 0.01, 0.0]), (101, [0.99, -0.02, 0.01])],
            "vec_id long, embedding array<float>",
        )
        grown = idx.add(new)
        # original untouched; quantizer unchanged; counts grew by 2
        assert {r.cell: r.n for r in idx.cell_sizes().collect()} == before
        assert grown.centers == idx.centers
        after = {r.cell: r.n for r in grown.cell_sizes().collect()}
        assert sum(after.values()) == sum(before.values()) + 2
        cells = {
            r.vec_id: r.cell
            for r in grown.assigned.where("vec_id >= 100").collect()
        }
        x_cell = {
            r.vec_id: r.cell for r in idx.assigned.where("vec_id = 0").collect()
        }[0]
        assert cells == {100: x_cell, 101: x_cell}

    def test_add_then_topk_finds_new_vectors(self, spark):
        from tempo_spark.pipeline.similarity import IVFIndex

        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.9, 0.1, 0.0])],
            "vec_id long, embedding array<float>",
        )
        idx = IVFIndex.build(vecs, n_centroids=2, init="first")
        grown = idx.add(
            spark.createDataFrame(
                [(10, [0.99, 0.0, 0.0])], "vec_id long, embedding array<float>"
            )
        )
        q = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<float>"
        )
        got = {r.vec_id for r in grown.topk(q, k=2, nprobe=1).collect()}
        assert 10 in got

    def test_save_shard_appends_without_rewrite(self, spark, tmp_path):
        import glob
        import os

        from tempo_spark.pipeline.similarity import IVFIndex

        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.9, 0.1, 0.0])],
            "vec_id long, embedding array<float>",
        )
        idx = IVFIndex.build(vecs, n_centroids=2, init="first")
        path = str(tmp_path / "ivf")
        idx.save(path)
        before = {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/corpus/cell=*/*.parquet")
        }
        idx.save_shard(
            path,
            spark.createDataFrame(
                [(10, [0.99, 0.0, 0.0])], "vec_id long, embedding array<float>"
            ),
        )
        # existing files untouched; the grown index is query-identical to
        # the in-memory add()
        for f, mt in before.items():
            assert os.path.getmtime(f) == mt
        loaded = IVFIndex.load(spark, path)
        q = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<float>"
        )
        disk = {
            (r.vec_id, r.rank) for r in loaded.topk(q, k=2, nprobe=1).collect()
        }
        mem = {
            (r.vec_id, r.rank)
            for r in idx.add(
                spark.createDataFrame(
                    [(10, [0.99, 0.0, 0.0])], "vec_id long, embedding array<float>"
                )
            ).topk(q, k=2, nprobe=1).collect()
        }
        assert disk == mem and 10 in {v for v, _ in disk}

    def test_add_is_shuffle_free(self, spark):
        from tempo_spark.pipeline.similarity import IVFIndex
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
        )
        idx = IVFIndex.build(vecs, n_centroids=2, init="first")
        new = spark.createDataFrame(
            [(5, [0.5, 0.5])], "vec_id long, embedding array<float>"
        )
        grown = idx.add(new)
        assert count_exchanges(grown.assigned) == 0
        assert count_python_evals(grown.assigned) == 0


class TestRepetitionMetrics:
    def test_counts_match_python(self, spark):
        rows = [
            (0, "the cat sat on the mat the cat sat"),
            (1, "a b a b a b a b"),
            (2, ""),
            (3, "one"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for n in (2, 3):
            out = {
                r.doc_id: (r[f"n_{n}grams"], r[f"n_{n}grams_distinct"], r[f"dup_{n}gram_frac"])
                for r in text.with_repetition_metrics(df, n=n).collect()
            }
            for doc_id, t in rows:
                toks = t.split()
                grams = [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))]
                frac = 1 - len(set(grams)) / len(grams) if grams else 0.0
                import math

                assert out[doc_id][0] == len(grams)
                assert out[doc_id][1] == len(set(grams))
                assert out[doc_id][2] == math.floor(frac * 1e6 + 0.5) / 1e6

    def test_no_shuffle_no_python(self, docs):
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        out = text.with_repetition_metrics(docs)
        assert count_exchanges(out) == 0
        assert count_python_evals(out) == 0

    def test_bad_n(self, docs):
        with pytest.raises(ValueError):
            text.with_repetition_metrics(docs, n=0)


class TestNgramCharFracs:
    def _model(self, t, n):
        import math
        from collections import Counter

        toks = t.split() if t and t.strip() else []
        grams = (
            [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if len(toks) >= n
            else []
        )
        if not grams:
            return (0.0, 0.0)
        c = Counter(grams)
        nch = len(t)
        top = max(c.items(), key=lambda kv: (kv[1], kv[1] * len(kv[0])))
        h = lambda x: math.floor(x * 1_000_000 + 0.5) / 1_000_000  # noqa: E731
        return (
            h(top[1] * len(top[0]) / nch),
            h(sum(cnt * len(g) for g, cnt in c.items() if cnt > 1) / nch),
        )

    def test_matches_python_model(self, spark):
        rows = [
            (0, "a b a b a b c"),           # "a b" x3 dominates
            (1, "x y z"),                   # no repeats
            (2, "w w w w"),                 # "w w" x3 (overlapping grams)
            (3, ""),                        # no grams
            (4, "one two"),                 # single gram, not duplicated
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.top_2gram_char_frac, r.dup_2gram_char_frac)
            for r in text.with_ngram_char_fracs(df, "doc_id", n=2).collect()
        }
        for i, t in rows:
            assert got[i] == self._model(t, 2), (i, t)

    def test_null_id_row_keeps_fractions(self, spark):
        df = spark.createDataFrame(
            [(None, "a a a a"), (1, "x y z")], "doc_id long, text string"
        )
        got = {
            r.doc_id: r.top_2gram_char_frac
            for r in text.with_ngram_char_fracs(df, "doc_id", n=2).collect()
        }
        # "a a" occurs 3x, len 3, doc len 7 -> 9/7 (null-safe join back)
        assert got[None] == pytest.approx(1.285714, abs=1e-6)
        # no repeats, but the top gram still exists: "x y" -> 3/5
        assert got[1] == pytest.approx(0.6, abs=1e-6)

    def test_null_text_and_schema(self, spark):
        df = spark.createDataFrame(
            [(0, None), (1, "a a a")], "doc_id long, text string"
        )
        out = text.with_ngram_char_fracs(df, "doc_id", n=2)
        assert out.columns == [
            "doc_id", "text", "top_2gram_char_frac", "dup_2gram_char_frac"
        ]
        got = {r.doc_id: r.top_2gram_char_frac for r in out.collect()}
        assert got[0] == 0.0 and got[1] > 0.5

    def test_bad_n(self, spark):
        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            text.with_ngram_char_fracs(df, "doc_id", n=0)


class TestPatternCounts:
    def test_counts(self, spark):
        df = spark.createDataFrame(
            [(0, "mail me@example.com or her@x.io, see https://a.b/c id 1234567890")],
            "doc_id long, text string",
        )
        r = text.with_pattern_counts(df).first()
        assert (r.n_emails, r.n_urls, r.n_digit_runs) == (2, 1, 1)


class TestShard:
    def test_matches_python_md5_model(self, spark):
        import hashlib

        from tempo_spark.pipeline import sampling

        df = spark.range(500).withColumnRenamed("id", "doc_id")
        got = {
            r.doc_id: (r.shard_id, r.pos)
            for r in sampling.with_shard(
                df, "doc_id", 8, hash_family="md5_32", out_pos="pos"
            ).collect()
        }

        def h(i):
            return int(hashlib.md5(f"shard:{i}".encode()).hexdigest()[:8], 16)

        shards = {}
        for i in range(500):
            shards.setdefault(h(i) % 8, []).append(i)
        want = {}
        for s, ids in shards.items():
            for pos, i in enumerate(sorted(ids, key=lambda i: (h(i), i))):
                want[i] = (s, pos)
        assert got == want

    def test_positions_are_a_permutation(self, spark):
        from tempo_spark.pipeline import sampling

        out = sampling.with_shard(
            spark.range(1000).withColumnRenamed("id", "doc_id"),
            "doc_id", 4, out_pos="pos",
        )
        per = {}
        for r in out.collect():
            per.setdefault(r.shard_id, []).append(r.pos)
        assert set(per) == {0, 1, 2, 3}
        for poss in per.values():
            assert sorted(poss) == list(range(len(poss)))

    def test_append_stable_shard(self, spark):
        from tempo_spark.pipeline import sampling

        small = sampling.with_shard(
            spark.range(300).withColumnRenamed("id", "doc_id"), "doc_id", 8
        )
        big = sampling.with_shard(
            spark.range(600).withColumnRenamed("id", "doc_id"), "doc_id", 8
        )
        a = {r.doc_id: r.shard_id for r in small.collect()}
        b = {r.doc_id: r.shard_id for r in big.collect()}
        assert all(b[k] == v for k, v in a.items())

    def test_write_training_shards(self, spark, tmp_path):
        import glob
        import hashlib

        from tempo_spark.pipeline import sampling

        df = spark.range(400).withColumnRenamed("id", "doc_id").withColumn(
            "text", F.concat(F.lit("doc "), F.col("doc_id"))
        )
        path = str(tmp_path / "shards")
        sampling.write_training_shards(df, path, "doc_id", 4, hash_family="md5_32")
        dirs = sorted(glob.glob(path + "/shard_id=*"))
        assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1", "2", "3"]
        # one sorted data file per shard; sequential read = the hash order
        for d in dirs:
            assert len(glob.glob(d + "/*.parquet")) == 1
        back = spark.read.parquet(path)
        assert back.count() == 400
        shard0 = [
            r.doc_id
            for r in spark.read.parquet(dirs[0]).select("doc_id").collect()
        ]

        def h(i):
            return int(hashlib.md5(f"shard:{i}".encode()).hexdigest()[:8], 16)

        assert shard0 == sorted(shard0, key=lambda i: (h(i), i))
        assert all(h(i) % 4 == 0 for i in shard0)

    def test_bad_n_shards(self, spark):
        from tempo_spark.pipeline import sampling

        with pytest.raises(ValueError):
            sampling.with_shard(spark.range(5), "id", 0)


class TestSampleByWeight:
    def test_matches_python_model_md5(self, spark):
        import hashlib

        from tempo_spark.pipeline import sampling

        df = spark.range(2000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 10 / 10.0).alias("q")
        )
        kept = {
            r.doc_id
            for r in sampling.sample_by_weight(
                df, "doc_id", "q", hash_family="md5_32"
            ).collect()
        }

        def bucket(i):
            h = int(hashlib.md5(f"wsample:{i}".encode()).hexdigest()[:8], 16)
            return h % 1_000_000

        want = {i for i in range(2000) if bucket(i) < (i % 10) / 10.0 * 1_000_000}
        assert kept == want
        # weight 0 rows never survive; determinism across runs
        assert not any(i % 10 == 0 for i in kept)

    def test_rate_tracks_weight(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(20000).select(
            F.col("id").alias("doc_id"), F.lit(0.25).alias("q")
        )
        n = sampling.sample_by_weight(df, "doc_id", "q").count()
        assert abs(n / 20000 - 0.25) < 0.02

    def test_null_and_overflow_weights(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.createDataFrame(
            [(0, None), (1, 2.0), (2, -0.5)], "doc_id long, q double"
        )
        kept = sorted(
            r.doc_id for r in sampling.sample_by_weight(df, "doc_id", "q").collect()
        )
        assert kept == [1]

    def test_zero_shuffle(self, spark):
        from tempo_spark.pipeline import sampling
        from tempo_spark.plans.inspect import count_exchanges

        df = spark.range(100).select(F.col("id").alias("doc_id"), F.lit(0.5).alias("q"))
        assert count_exchanges(sampling.sample_by_weight(df, "doc_id", "q")) == 0


class TestStatelessOpsOnStreams:
    def test_text_ops_compose_with_streaming(self, spark, tmp_path):
        """Every per-row text operator is stream-compatible by
        construction (no shuffle, no state) — pin that contract."""
        import datetime as dt

        d = str(tmp_path / "docs")
        spark.createDataFrame(
            [(1, dt.datetime(2020, 1, 1), "the quick brown fox")],
            "doc_id long, ts timestamp, text string",
        ).write.mode("overwrite").parquet(d)
        sdf = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(d)
        out = text.with_language_id(
            text.with_quality_score(text.with_token_count(sdf))
        )
        # paragraph-grain ops are equally stateless (per-row HOFs); the
        # langs_col reuse path scores each paragraph once
        out = text.remove_foreign_paragraphs(
            text.with_paragraph_langs(out), out="clean",
            langs_col="para_langs", majority_col="majority_lang",
        )
        from tempo_spark.pipeline import sampling

        # weight 1.0 -> always kept: this test pins stream COMPOSABILITY,
        # not the sampling decision (which legitimately drops rows whose
        # hash bucket beats their quality score)
        out = sampling.sample_by_weight(
            sampling.with_split(out, "doc_id").withColumn("keep_w", F.lit(1.0)),
            "doc_id",
            "keep_w",
        )
        # sentence chunking (incl. the round-7 token-grain fallback branch
        # — pure CaseWhen, no state) stays stream-safe; one short doc ->
        # one chunk, so row count is unchanged downstream
        out = sampling.chunk_documents(
            out, "doc_id", max_tokens=512, boundary="sentence",
            sentence_fallback=2,
        )
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName("stateless_text")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.table("stateless_text").collect()
        # the single doc must SURVIVE the weight sample (its quality score
        # beats its hash bucket) — an empty result would pass vacuously
        assert len(rows) == 1
        assert rows[0].n_tokens == 4 and rows[0].lang_pred == "en"


class TestSampling:
    def test_split_deterministic_and_stable(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.split for r in sampling.with_split(df, "doc_id").collect()}
        b = {r.doc_id: r.split for r in sampling.with_split(df, "doc_id").collect()}
        assert a == b
        # appending rows must not move existing assignments
        c = {
            r.doc_id: r.split
            for r in sampling.with_split(
                spark.range(4000).withColumnRenamed("id", "doc_id"), "doc_id"
            ).collect()
        }
        assert all(c[k] == v for k, v in a.items())

    def test_split_distribution(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(20000).withColumnRenamed("id", "doc_id")
        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        counts = {
            r.split: r["count"]
            for r in sampling.with_split(df, "doc_id", weights=w).groupBy("split").count().collect()
        }
        assert abs(counts["train"] / 20000 - 0.8) < 0.02
        assert abs(counts["val"] / 20000 - 0.1) < 0.01
        assert abs(counts["test"] / 20000 - 0.1) < 0.01

    def test_split_salt_independent(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(5000).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.split for r in sampling.with_split(df, "doc_id", salt="s1").collect()}
        b = {r.doc_id: r.split for r in sampling.with_split(df, "doc_id", salt="s2").collect()}
        assert a != b  # re-salting re-splits

    def test_split_md5_matches_duckdb(self, spark):
        import duckdb

        from tempo_spark.pipeline import sampling

        df = spark.range(500).withColumnRenamed("id", "doc_id")
        got = {
            r.doc_id: r.split
            for r in sampling.with_split(df, "doc_id", hash_family="md5_32").collect()
        }
        want = dict(
            duckdb.sql(
                """
                SELECT i, CASE
                  WHEN ('0x' || substr(md5('split:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000 < 980000 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000 < 990000 THEN 'val'
                  ELSE 'test' END
                FROM range(500) t(i)
                """
            ).fetchall()
        )
        assert got == want

    def test_split_no_shuffle(self, spark):
        from tempo_spark.pipeline import sampling
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        df = spark.range(100).withColumnRenamed("id", "doc_id")
        out = sampling.with_split(df, "doc_id")
        assert count_exchanges(out) == 0
        assert count_python_evals(out) == 0

    def test_split_validation(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(10).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            sampling.with_split(df, "doc_id", weights={})
        with pytest.raises(ValueError):
            sampling.with_split(df, "doc_id", hash_family="city64")

    def test_sample_per_key(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(1000).withColumn("k", (F.col("id") % 7).cast("int"))
        out = sampling.sample_per_key(df, ["k"], 5, "id", out_rank="rk")
        counts = {r.k: r["count"] for r in out.groupBy("k").count().collect()}
        assert all(v == 5 for v in counts.values()) and len(counts) == 7
        again = sampling.sample_per_key(df, ["k"], 5, "id", out_rank="rk")
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
        # rank column is 1..n inside each key
        rks = [r.rk for r in out.where("k = 3").collect()]
        assert sorted(rks) == [1, 2, 3, 4, 5]
        # small groups survive intact
        tiny = spark.range(3).withColumn("k", F.lit(0))
        assert sampling.sample_per_key(tiny, ["k"], 5, "id").count() == 3

    def test_sample_per_key_one_shuffle(self, spark):
        from tempo_spark.pipeline import sampling
        from tempo_spark.plans.inspect import count_exchanges

        df = spark.range(100).withColumn("k", (F.col("id") % 3).cast("int"))
        out = sampling.sample_per_key(df, ["k"], 2, "id")
        assert count_exchanges(out) == 1
        # the rank filter must become a PARTIAL WindowGroupLimit before the
        # exchange: the shuffle then carries O(keys * n), not the corpus
        plan = out._jdf.queryExecution().executedPlan().toString()
        partial = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln and "Partial" in ln]
        assert partial, plan

    def test_sample_validation(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(10).withColumn("k", F.lit(0))
        with pytest.raises(ValueError):
            sampling.sample_per_key(df, ["k"], 0, "id")


class TestDedupAgainstCorpus:
    @pytest.fixture(scope="class")
    def shard_corpus(self, spark):
        corpus = spark.createDataFrame(
            [(0, "seen before"), (1, "also seen"), (2, "dup in corpus"), (3, "dup in corpus")],
            "doc_id long, text string",
        )
        shard = spark.createDataFrame(
            [(10, "seen before"), (11, "brand new"), (12, "also seen"), (13, "another new")],
            "doc_id long, text string",
        )
        return shard, corpus

    def test_survivors(self, shard_corpus):
        shard, corpus = shard_corpus
        out = sorted(
            r.doc_id for r in dedup.dedup_against_corpus(shard, corpus).collect()
        )
        assert out == [11, 13]
        assert dedup.dedup_against_corpus(shard, corpus).columns == ["doc_id", "text"]

    def test_shuffle_strategy_same_result(self, shard_corpus):
        shard, corpus = shard_corpus
        a = sorted(r.doc_id for r in dedup.dedup_against_corpus(shard, corpus).collect())
        b = sorted(
            r.doc_id
            for r in dedup.dedup_against_corpus(shard, corpus, strategy="shuffle").collect()
        )
        assert a == b

    def test_corpus_never_shuffled(self, shard_corpus):
        shard, corpus = shard_corpus
        out = dedup.dedup_against_corpus(shard, corpus)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # two broadcast joins; the only hash exchanges are the shard-sized
        # distincts (2), never the corpus subtree
        assert plan.count("BroadcastHashJoin") == 2
        from tempo_spark.plans.inspect import count_exchanges

        assert count_exchanges(out) == 2

    def test_bloom_strategy_same_result(self, shard_corpus):
        shard, corpus = shard_corpus
        a = sorted(r.doc_id for r in dedup.dedup_against_corpus(shard, corpus).collect())
        b = sorted(
            r.doc_id
            for r in dedup.dedup_against_corpus(
                shard, corpus, strategy="bloom"
            ).collect()
        )
        assert a == b
        # a tiny, heavily-colliding filter still yields exact results —
        # false positives only cost verify work, never correctness
        c = sorted(
            r.doc_id
            for r in dedup.dedup_against_corpus(
                shard, corpus, strategy="bloom", bloom_bits=64, bloom_hashes=2
            ).collect()
        )
        assert a == c

    def test_bloom_prebuilt_filter_reused(self, shard_corpus, tmp_path):
        shard, corpus = shard_corpus
        bloom = dedup.build_content_bloom(corpus, bloom_bits=1 << 10, bloom_hashes=3)
        path = str(tmp_path / "bloom")
        bloom.write.parquet(path)
        loaded = shard.sparkSession.read.parquet(path)
        a = sorted(r.doc_id for r in dedup.dedup_against_corpus(shard, corpus).collect())
        b = sorted(
            r.doc_id
            for r in dedup.dedup_against_corpus(
                shard, corpus, strategy="bloom",
                bloom_bits=1 << 10, bloom_hashes=3, bloom_df=loaded,
            ).collect()
        )
        assert a == b

    def test_bloom_appended_filter_stays_exact(self, shard_corpus, tmp_path):
        """Growing the persisted filter by appending per-batch blooms
        produces duplicate __w rows; the probe must re-aggregate them —
        a raw join against duplicates yields FALSE NEGATIVES (dups kept)."""
        shard, corpus = shard_corpus
        kw = dict(bloom_bits=1 << 10, bloom_hashes=3)
        path = str(tmp_path / "bloom")
        half1 = corpus.where("doc_id < 2")
        half2 = corpus.where("doc_id >= 2")
        dedup.build_content_bloom(half1, **kw).write.parquet(path)
        dedup.build_content_bloom(half2, **kw).write.mode("append").parquet(path)
        loaded = shard.sparkSession.read.parquet(path)
        a = sorted(r.doc_id for r in dedup.dedup_against_corpus(shard, corpus).collect())
        b = sorted(
            r.doc_id
            for r in dedup.dedup_against_corpus(
                shard, corpus, strategy="bloom", bloom_df=loaded, **kw
            ).collect()
        )
        assert a == b

    def test_bloom_param_mismatch_raises(self, shard_corpus):
        shard, corpus = shard_corpus
        bloom = dedup.build_content_bloom(corpus, bloom_bits=1 << 10, bloom_hashes=3)
        with pytest.raises(Exception) as exc:
            dedup.dedup_against_corpus(
                shard, corpus, strategy="bloom",
                bloom_bits=1 << 12, bloom_hashes=3, bloom_df=bloom,
            ).collect()
        assert "bloom" in str(exc.value)

    def test_bloom_null_text(self, spark):
        corpus = spark.createDataFrame([(0, None)], "doc_id long, text string")
        shard = spark.createDataFrame(
            [(1, None), (2, "fresh")], "doc_id long, text string"
        )
        out = sorted(
            r.doc_id
            for r in dedup.dedup_against_corpus(shard, corpus, strategy="bloom").collect()
        )
        assert out == [2]  # null content dedups via the sentinel digest

    def test_bloom_build_never_shuffles_corpus_rows(self, shard_corpus):
        import re

        shard, corpus = shard_corpus
        out = dedup.dedup_against_corpus(shard, corpus, strategy="bloom")
        from tempo_spark.plans.inspect import formatted_plan

        plan = formatted_plan(out)
        # every hash exchange is keyed on internal bloom/digest columns
        # (word id or digest) — corpus text/doc columns never shuffle
        for m in re.finditer(r"Arguments: hashpartitioning\(([^,]+),", plan):
            assert m.group(1).startswith("__"), m.group(1)

    def test_bad_strategy(self, shard_corpus):
        shard, corpus = shard_corpus
        with pytest.raises(ValueError):
            dedup.dedup_against_corpus(shard, corpus, strategy="nope")
        with pytest.raises(ValueError):
            dedup.dedup_against_corpus(
                shard, corpus, strategy="bloom", bloom_bits=32
            )


class TestNearDedupAgainstCorpus:
    @pytest.fixture(scope="class")
    def shard_corpus(self, spark):
        corpus = spark.createDataFrame(
            [
                (0, "the quick brown fox jumps over the lazy dog every day"),
                (1, "completely different text about database engines"),
            ],
            "doc_id long, text string",
        )
        shard = spark.createDataFrame(
            [
                # near-dup of corpus doc 0 (one word changed)
                (10, "the quick brown fox jumps over the lazy cat every day"),
                (11, "brand new content with no overlap whatsoever here"),
            ],
            "doc_id long, text string",
        )
        return shard, corpus

    def _kw(self):
        return dict(
            num_hashes=16, bands=8, shingle_k=2, threshold=0.3, use_words=True
        )

    def test_pairs_flag_drop(self, shard_corpus):
        shard, corpus = shard_corpus
        pairs = dedup.near_dedup_against_corpus(
            shard, corpus, "doc_id", mode="pairs", **self._kw()
        ).collect()
        assert {(r.doc_id, r.corpus_id) for r in pairs} == {(10, 0)}
        assert all(0.3 <= r.jaccard <= 1.0 for r in pairs)
        kept = dedup.near_dedup_against_corpus(
            shard, corpus, "doc_id", mode="drop", **self._kw()
        )
        assert sorted(r.doc_id for r in kept.collect()) == [11]
        assert kept.columns == ["doc_id", "text"]
        flags = {
            r.doc_id: r.is_near_dup
            for r in dedup.near_dedup_against_corpus(
                shard, corpus, "doc_id", mode="flag", **self._kw()
            ).collect()
        }
        assert flags == {10: True, 11: False}

    def test_matches_batch_minhash_pairs(self, shard_corpus):
        # cross-corpus pairs == the (shard-id, corpus-id) pairs of a full
        # minhash_dedup over the union, restricted across the boundary
        shard, corpus = shard_corpus
        union = corpus.unionByName(shard)
        full = dedup.minhash_dedup(
            union, "doc_id", "text", bands=8, shingle_k=2, threshold=0.3,
            use_words=True,
        ).collect()
        cross = {
            (r.id_b, r.id_a, r.jaccard) for r in full if r.id_a < 10 <= r.id_b
        }
        got = {
            (r.doc_id, r.corpus_id, r.jaccard)
            for r in dedup.near_dedup_against_corpus(
                shard, corpus, "doc_id", mode="pairs", **self._kw()
            ).collect()
        }
        assert got == cross

    def test_corpus_never_shuffled(self, shard_corpus):
        shard, corpus = shard_corpus
        pairs = dedup.near_dedup_against_corpus(
            shard, corpus, "doc_id", mode="pairs", **self._kw()
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # band join + verify join are both broadcast (corpus side streams)
        assert plan.count("BroadcastHashJoin") == 2
        from tempo_spark.plans.inspect import count_exchanges

        # the only hash shuffle is the candidate-pair dedup
        assert count_exchanges(pairs) == 1

    def test_no_broadcast_shard_same_result(self, shard_corpus):
        shard, corpus = shard_corpus
        a = dedup.near_dedup_against_corpus(
            shard, corpus, "doc_id", mode="pairs", **self._kw()
        ).collect()
        b = dedup.near_dedup_against_corpus(
            shard, corpus, "doc_id", mode="pairs", broadcast_shard=False,
            **self._kw()
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_bad_mode(self, shard_corpus):
        shard, corpus = shard_corpus
        with pytest.raises(ValueError):
            dedup.near_dedup_against_corpus(shard, corpus, "doc_id", mode="x")


class TestGroupFiltering:
    @pytest.fixture(scope="class")
    def grouped(self, spark):
        rows = [
            ("good", 0, 0.9), ("good", 1, 0.8), ("good", 2, 0.7),
            ("bad", 3, 0.2), ("bad", 4, 0.3), ("bad", 5, 0.1),
            ("tiny", 6, 0.95),
            ("nully", 7, None), ("nully", 8, None),
        ]
        return spark.createDataFrame(rows, "source string, doc_id long, score double")

    def test_drop_mode(self, grouped):
        from tempo_spark.pipeline import filtering

        kept = filtering.filter_by_group_stats(
            grouped, ["source"], "score", min_mean=0.5
        )
        assert kept.columns == ["source", "doc_id", "score"]
        assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 2, 6]
        # min_count drops the tiny group too
        kept2 = filtering.filter_by_group_stats(
            grouped, ["source"], "score", min_mean=0.5, min_count=2
        )
        assert sorted(r.doc_id for r in kept2.collect()) == [0, 1, 2]

    def test_flag_mode_and_null_group(self, grouped):
        from tempo_spark.pipeline import filtering

        flagged = {
            r.doc_id: (r.group_passes, r.group_count, r.group_mean)
            for r in filtering.filter_by_group_stats(
                grouped, ["source"], "score", min_mean=0.5, mode="flag"
            ).collect()
        }
        assert flagged[0][0] is True and flagged[3][0] is False
        assert flagged[3][1] == 3
        # all-null metric group: mean is null -> fails any mean bar
        assert flagged[7][0] is False and flagged[7][2] is None

    def test_null_group_key_kept_when_passing(self, spark):
        from tempo_spark.pipeline import filtering

        df = spark.createDataFrame(
            [(None, 0, 0.9), (None, 1, 0.95), ("bad", 2, 0.1)],
            "source string, doc_id long, score double",
        )
        # the NULL group's mean (0.925) passes — its rows must survive
        kept = filtering.filter_by_group_stats(df, ["source"], "score", min_mean=0.5)
        assert sorted(r.doc_id for r in kept.collect()) == [0, 1]
        flags = {
            r.doc_id: r.group_passes
            for r in filtering.filter_by_group_stats(
                df, ["source"], "score", min_mean=0.5, mode="flag"
            ).collect()
        }
        assert flags == {0: True, 1: True, 2: False}

    def test_max_mean(self, grouped):
        from tempo_spark.pipeline import filtering

        kept = filtering.filter_by_group_stats(
            grouped, ["source"], "score", max_mean=0.5
        )
        assert sorted(r.doc_id for r in kept.collect()) == [3, 4, 5]

    def test_corpus_never_shuffled(self, grouped):
        from tempo_spark.pipeline import filtering
        from tempo_spark.plans.inspect import count_exchanges

        kept = filtering.filter_by_group_stats(
            grouped, ["source"], "score", min_mean=0.5
        )
        # the only hash shuffle is the vocabulary-sized group agg; the
        # corpus side joins the verdicts by broadcast
        assert count_exchanges(kept) == 1
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    def test_validation(self, grouped):
        from tempo_spark.pipeline import filtering

        with pytest.raises(ValueError):
            filtering.filter_by_group_stats(grouped, ["source"], "score")
        with pytest.raises(ValueError):
            filtering.filter_by_group_stats(
                grouped, ["source"], "score", min_mean=0.5, mode="x"
            )
        with pytest.raises(ValueError):
            filtering.group_stats(grouped, [], "score")


class TestBoilerplateLines:
    @pytest.fixture(scope="class")
    def multiline(self, spark):
        footer = "(c) example corp - all rights reserved"
        nav = "home | about | contact"
        rows = [
            (0, f"{nav}\nunique article one\n{footer}"),
            (1, f"{nav}\nanother unique piece\nmore body text\n{footer}"),
            (2, f"{nav}\nthird story\n{footer}"),
            (3, "no boilerplate at all\njust content"),
            (4, f"{footer}\n{footer}\nrepeated footer inside one doc"),
            (5, None),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_strips_frequent_lines(self, multiline):
        from tempo_spark.pipeline import filtering

        got = {
            r.doc_id: r.text
            for r in filtering.remove_boilerplate_lines(
                multiline, "doc_id", min_doc_freq=3
            ).collect()
        }
        assert got[0] == "unique article one"
        assert got[1] == "another unique piece\nmore body text"
        assert got[2] == "third story"
        assert got[3] == "no boilerplate at all\njust content"
        # footer appears in docs 0,1,2,4 -> stripped from 4 too (both copies)
        assert got[4] == "repeated footer inside one doc"
        assert got[5] is None

    def test_within_doc_repeat_counts_once(self, multiline):
        from tempo_spark.pipeline import filtering

        # nav is in docs 0,1,2 (3 docs); footer in 0,1,2,4 (4 docs — the
        # doubled copy in doc 4 counts once). min_doc_freq=4 keeps nav.
        got = {
            r.doc_id: r.text
            for r in filtering.remove_boilerplate_lines(
                multiline, "doc_id", min_doc_freq=4
            ).collect()
        }
        assert got[0] == "home | about | contact\nunique article one"
        assert got[4] == "repeated footer inside one doc"

    def test_out_column_and_validation(self, multiline):
        from tempo_spark.pipeline import filtering

        got = filtering.remove_boilerplate_lines(
            multiline, "doc_id", min_doc_freq=3, out="clean"
        )
        assert "clean" in got.columns and "text" in got.columns
        row = {r.doc_id: r for r in got.collect()}[0]
        assert "home |" in row.text and row.clean == "unique article one"
        with pytest.raises(ValueError):
            filtering.remove_boilerplate_lines(multiline, "doc_id", min_doc_freq=1)

    def test_all_lines_stripped_yields_empty(self, spark):
        from tempo_spark.pipeline import filtering

        df = spark.createDataFrame(
            [(i, "only line") for i in range(3)], "doc_id long, text string"
        )
        got = {
            r.doc_id: r.text
            for r in filtering.remove_boilerplate_lines(
                df, "doc_id", min_doc_freq=3
            ).collect()
        }
        assert got == {0: "", 1: "", 2: ""}


class TestPrepareCorpus:
    def test_end_to_end(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        text_a = "the quick brown fox jumps over the lazy dog near the river"
        rows = [
            (0, text_a),
            (1, text_a),                                 # exact dup of 0
            (2, text_a.replace("river", "creek")),       # near dup of 0
            (3, "completely different content about engines and data and scale"),
            (4, "spam spam spam spam spam spam spam spam"),  # repetitive
            (5, ""),                                     # empty -> low quality
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = prepare_corpus(
            df,
            min_quality=0.4,  # empty doc scores 0.375 (punct+wordlen floor)
            max_dup_2gram_frac=0.5,
            near_dedup_threshold=0.5,
            pack_tokens=16,
            n_shards=2,
        )
        got = {r.doc_id: r for r in out.collect()}
        # 1 (exact dup), 2 (near dup), 4 (dup-2gram), 5 (quality) all gone
        assert sorted(got) == [0, 3]
        for r in got.values():
            assert r.split in ("train", "val", "test")
            assert r.pack_id >= 0 and 0 <= r.shard_id < 2
            assert r.n_tokens > 0 and 0 <= r.quality_score <= 1

    def test_staging_releases_persist_barriers(self, spark):
        """r9: CorpusStaging tracks every persist barrier and unpersists
        them deterministically on release/context-exit — without it the
        corpus-sized cache entries live until session end."""
        from pyspark import StorageLevel

        from tempo_spark.pipeline.prepare import CorpusStaging, prepare_corpus

        df = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "delta")],
            "doc_id long, text string",
        )
        with CorpusStaging() as staging:
            out = prepare_corpus(
                df, normalize=True, near_dedup_threshold=0.5, staging=staging
            )
            # normalize barrier + signal barrier + post-near-dedup barrier
            assert len(staging.frames) == 3
            assert all(
                f.storageLevel != StorageLevel.NONE for f in staging.frames
            )
            n = out.count()
            assert n >= 1
            tracked = list(staging.frames)
        assert staging.frames == []  # released and cleared
        assert all(f.storageLevel == StorageLevel.NONE for f in tracked)
        # warm-path contract unchanged: result still collectable after
        # release (lineage re-executes, values identical)
        assert out.count() == n

    def test_staging_dir_parquet_barriers_parity(self, spark, tmp_path):
        """r10: staging_dir= writes each barrier to parquet and reads it
        back (the 100-TB form — nothing corpus-sized memory-cached).
        Output must be identical to the cached and barrier-free forms."""
        import os

        from tempo_spark.pipeline.prepare import CorpusStaging, prepare_corpus

        text_a = "the quick brown fox jumps over the lazy dog near the river"
        rows = [
            (0, text_a),
            (1, text_a),
            (2, text_a.replace("river", "creek")),
            (3, "completely different content about engines and data and scale"),
            (4, "spam spam spam spam spam spam spam spam"),
            (5, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(
            normalize=True,
            min_quality=0.4,
            max_dup_2gram_frac=0.5,
            near_dedup_threshold=0.5,
            pack_tokens=16,
            n_shards=2,
        )
        staged_dir = str(tmp_path / "staged")
        staged = prepare_corpus(df, staging_dir=staged_dir, **kw)
        cached = prepare_corpus(df, persist_intermediate=True, **kw)
        bare = prepare_corpus(df, persist_intermediate=False, **kw)

        def digest(frame):
            return sorted(
                tuple(r) for r in frame.select(sorted(frame.columns)).collect()
            )

        assert digest(staged) == digest(cached) == digest(bare)
        # the barriers actually landed on disk, one numbered dir per stage
        stages = sorted(os.listdir(staged_dir))
        assert stages == ["00_cleaned", "01_signals", "02_near_dedup"]
        # staging_dir turns barriers on even with persist_intermediate=False
        forced = prepare_corpus(
            df,
            staging_dir=str(tmp_path / "forced"),
            persist_intermediate=False,
            **kw,
        )
        assert digest(forced) == digest(bare)
        assert os.path.isdir(str(tmp_path / "forced" / "00_cleaned"))
        # cache-release handle is meaningless with disk barriers
        import pytest

        with pytest.raises(ValueError, match="staging_dir"):
            prepare_corpus(
                df, staging=CorpusStaging(), staging_dir=staged_dir, **kw
            )

    def test_staging_dir_resume(self, spark, tmp_path):
        """r11: resume=True skips barriers whose staged parquet carries a
        matching manifest — a run killed after stage N restarts from
        stage N+1 and produces output identical to a single-shot run."""
        import os
        import shutil

        import pytest

        from tempo_spark.pipeline.prepare import prepare_corpus

        text_a = "the quick brown fox jumps over the lazy dog near the river"
        rows = [
            (0, text_a),
            (1, text_a),
            (2, text_a.replace("river", "creek")),
            (3, "completely different content about engines and data and scale"),
            (4, "spam spam spam spam spam spam spam spam"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(
            normalize=True,
            min_quality=0.4,
            near_dedup_threshold=0.5,
            n_shards=2,
        )

        def digest(frame):
            return sorted(
                tuple(r) for r in frame.select(sorted(frame.columns)).collect()
            )

        def parts(stage_dir):
            return sorted(
                f for f in os.listdir(stage_dir) if f.startswith("part-")
            )

        ref = digest(prepare_corpus(df, staging_dir=str(tmp_path / "ref"), **kw))

        sd = tmp_path / "resume"
        out1 = prepare_corpus(df, staging_dir=str(sd), resume=True, **kw)
        assert digest(out1) == ref
        stages = sorted(os.listdir(sd))
        assert stages == ["00_cleaned", "01_signals", "02_near_dedup"]
        assert all(
            "_tempo_manifest.json" in os.listdir(sd / s) for s in stages
        )
        before = {s: parts(sd / s) for s in stages[:2]}

        # simulate a crash after stage 1: stage 2 never completed
        shutil.rmtree(sd / "02_near_dedup")
        out2 = prepare_corpus(df, staging_dir=str(sd), resume=True, **kw)
        assert digest(out2) == ref
        # stages 0-1 were SKIPPED: overwrite would have rewritten the part
        # files under fresh random names
        assert {s: parts(sd / s) for s in stages[:2]} == before
        assert os.path.isdir(sd / "02_near_dedup")

        # a config change invalidates every stage (conservative digest)
        kw2 = dict(kw, min_quality=0.2)
        ref2 = digest(
            prepare_corpus(df, staging_dir=str(tmp_path / "ref2"), **kw2)
        )
        out3 = prepare_corpus(df, staging_dir=str(sd), resume=True, **kw2)
        assert digest(out3) == ref2
        assert parts(sd / "00_cleaned") != before["00_cleaned"]

        with pytest.raises(ValueError, match="resume"):
            prepare_corpus(df, resume=True, **kw)

    def test_resume_across_process_restart(self, spark, tmp_path):
        """r12 (dress rehearsal find): the resume digest must survive a
        REAL process restart. ``semanticHash`` is session-scoped for file
        scans (the canonicalized relation hashes its FileIndex by object
        identity), so the r11 digest never matched across JVMs and
        resume= silently recomputed everything; file-backed inputs now
        token by normalized plan + input-file listing. Two fresh
        subprocesses share one staging dir: the second must SKIP stage 0
        (part files untouched), not rewrite it."""
        import os
        import subprocess
        import sys
        import textwrap
        from pathlib import Path as _P

        repo = str(_P(__file__).resolve().parents[1])
        corpus = tmp_path / "corpus"
        spark.createDataFrame(
            [(i, f"document {i} body words {i % 7} more text here")
             for i in range(50)],
            "doc_id long, text string",
        ).write.parquet(str(corpus))
        sd = tmp_path / "staging"
        prog = textwrap.dedent(
            f"""
            import sys; sys.path.insert(0, {repr(repo)})
            from pyspark.sql import SparkSession
            spark = (SparkSession.builder.master("local[2]")
                     .config("spark.ui.enabled", "false")
                     .config("spark.sql.shuffle.partitions", "2")
                     .getOrCreate())
            from tempo_spark.pipeline.prepare import prepare_corpus
            docs = spark.read.parquet({repr(str(corpus))})
            out = prepare_corpus(docs, normalize=True, exact_dedup=True,
                                 staging_dir={repr(str(sd))}, resume=True)
            print("ROWS", out.count())
            """
        )

        def run():
            r = subprocess.run(
                [sys.executable, "-c", prog],
                capture_output=True, text=True, timeout=600,
            )
            assert r.returncode == 0, r.stderr[-2000:]

        run()
        stage0 = sd / "00_cleaned"
        parts1 = sorted(
            f for f in os.listdir(stage0) if f.startswith("part-")
        )
        run()
        parts2 = sorted(
            f for f in os.listdir(stage0) if f.startswith("part-")
        )
        # a rewrite would mint fresh random part names — equality proves
        # the second JVM recognized the first JVM's manifest
        assert parts1 == parts2

    def test_token_model_drives_counts(self, spark):
        """r10: token_model= (a BPEModel) swaps the n_tokens signal to
        learned BPE piece counts — downstream packing keys off it."""
        from tempo_spark.pipeline.bpe import BPEModel
        from tempo_spark.pipeline.prepare import prepare_corpus

        df = spark.createDataFrame(
            [(0, "abab abab"), (1, "cd cd cd")], "doc_id long, text string"
        )
        m = BPEModel([("a", "b"), ("ab", "ab")])
        out = {
            r.doc_id: r.n_tokens
            for r in prepare_corpus(
                df, exact_dedup=False, token_model=m, pack_tokens=4
            ).collect()
        }
        # 'abab' -> one 'abab' piece each; 'cd' -> 2 chars each
        assert out == {0: 2, 1: 6}

    def test_all_stages_optional(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        df = spark.createDataFrame(
            [(0, "alpha beta"), (1, "alpha beta")], "doc_id long, text string"
        )
        out = prepare_corpus(df, exact_dedup=False)
        assert sorted(r.doc_id for r in out.collect()) == [0, 1]
        assert "pack_id" not in out.columns and "shard_id" not in out.columns
        assert "split" in out.columns

    def test_span_dedup_stage_rederives_signals(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        shared = "one two three four five six seven eight"
        rows = [
            (0, f"{shared} unique0 tail0"),
            (1, f"intro1 {shared}"),  # loses the 8-token span, keep-first
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in prepare_corpus(
                df, span_dedup_ngram=8, exact_dedup=False
            ).collect()
        }
        assert out[0].text == f"{shared} unique0 tail0"
        assert out[1].text == "intro1"
        # n_tokens describes the SHIPPED text, not the pre-cut one
        assert out[0].n_tokens == 10 and out[1].n_tokens == 1

    def test_decontaminate_stage(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        bench = spark.createDataFrame(
            [(99, "e1 e2 e3 e4")], "doc_id long, text string"
        )
        df = spark.createDataFrame(
            [(0, "keep these words e1 e2 e3 e4 and keep these too")],
            "doc_id long, text string",
        )
        out = prepare_corpus(
            df, decontaminate_against=bench, decontaminate_ngram=4,
            exact_dedup=False,
        ).collect()[0]
        assert out.text == "keep these words and keep these too"
        assert out.n_tokens == 7


class TestNullKeys:
    def test_split_null_key_consistent_across_families(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.createDataFrame([(None,), ("a",)], "k string")
        for fam in ("xxhash64", "md5_32"):
            out = {
                (r.k if r.k is not None else "<null>"): r.split
                for r in sampling.with_split(
                    df, "k", weights={"x": 0.5, "y": 0.5}, hash_family=fam
                ).collect()
            }
            # null keys get a real (sentinel-hashed) assignment, not a
            # silent fall-through to the last label
            assert out["<null>"] in ("x", "y")

    def test_null_text_dedups_like_exact(self, spark):
        shard = spark.createDataFrame([(1, None), (2, "x")], "doc_id long, text string")
        corpus = spark.createDataFrame([(0, None), (9, "y")], "doc_id long, text string")
        survivors = sorted(
            r.doc_id for r in dedup.dedup_against_corpus(shard, corpus).collect()
        )
        # doc 1's null text already exists in the corpus (doc 0) — dropped,
        # matching exact_dedup's groupBy-null semantics
        assert survivors == [2]


class TestNgramContamination:
    @pytest.fixture(scope="class")
    def corpus_bench(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "completely unrelated text about engines"),
                (3, "short doc"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [("benchmark says the quick brown fox jumps over everything",), ("short doc",)],
            "text string",
        )
        return corpus, bench

    def test_flags_and_fractions(self, corpus_bench):
        corpus, bench = corpus_bench
        out = {
            r.doc_id: (r.contam_ngrams, r.n_ngrams, r.contam_frac)
            for r in dedup.ngram_contamination(corpus, bench, n=5).collect()
        }
        # doc 1: 10 words -> 6 distinct 5-grams, 2 shared with the benchmark
        assert out[1] == (2, 6, 0.333333)
        # doc 3 is shorter than n -> whole-text shingle, exact match
        assert out[3] == (1, 1, 1.0)
        # clean docs are absent
        assert 2 not in out

    def test_md5_family_matches_xxhash_flags(self, corpus_bench):
        corpus, bench = corpus_bench
        a = {r.doc_id for r in dedup.ngram_contamination(corpus, bench, n=5).collect()}
        b = {
            r.doc_id
            for r in dedup.ngram_contamination(
                corpus, bench, n=5, hash_family="md5_32"
            ).collect()
        }
        assert a == b

    def test_corpus_side_stays_broadcast(self, corpus_bench):
        corpus, bench = corpus_bench
        out = dedup.ngram_contamination(corpus, bench, n=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        from tempo_spark.plans.inspect import count_exchanges

        # benchmark distinct + per-doc hit count; the corpus subtree itself
        # is scan -> shingle -> explode -> broadcast join, never shuffled
        assert plan.count("BroadcastHashJoin") == 1
        assert count_exchanges(out) == 2


class TestAssignPacks:
    def test_matches_python_model(self, spark):
        import hashlib

        from tempo_spark.pipeline import sampling

        rows = [(i, i % 3, 100 + (i * 37) % 500) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, shard int, n_tokens int")
        out = {
            r.doc_id: r.pack_id
            for r in sampling.assign_packs(
                df, "n_tokens", 1000, ["shard"], "doc_id", hash_family="md5_32"
            ).collect()
        }

        def h(i):
            return int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:8], 16)

        for shard in range(3):
            group = sorted(
                [(i, t) for (i, s, t) in rows if s == shard], key=lambda x: (h(x[0]), x[0])
            )
            run = 0
            for i, t in group:
                assert out[i] == run // 1000, i
                run += t

    def test_pack_budget_respected(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.range(500).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).alias("shard"),
            (F.pmod(F.col("id") * 7919, F.lit(300)) + 1).alias("n_tokens"),
        )
        packed = sampling.assign_packs(df, "n_tokens", 2048, ["shard"], "doc_id")
        per_pack = packed.groupBy("shard", "pack_id").agg(
            F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx")
        )
        # each pack holds < max_tokens + one doc's tokens
        assert per_pack.where(F.col("tot") >= 2048 + F.col("mx")).count() == 0
        # token mass is conserved — every doc lands in exactly one pack
        assert (
            per_pack.agg(F.sum("tot")).first()[0]
            == df.agg(F.sum("n_tokens")).first()[0]
        )

    def test_one_shuffle_and_validation(self, spark):
        from tempo_spark.pipeline import sampling
        from tempo_spark.plans.inspect import count_exchanges

        df = spark.range(10).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2).alias("shard"),
            F.lit(5).alias("n_tokens"),
        )
        assert count_exchanges(
            sampling.assign_packs(df, "n_tokens", 100, ["shard"], "doc_id")
        ) == 1
        with pytest.raises(ValueError):
            sampling.assign_packs(df, "n_tokens", 0, ["shard"], "doc_id")
        with pytest.raises(ValueError):
            sampling.assign_packs(df, "n_tokens", 100, [], "doc_id")

    def test_backtick_in_output_name(self, spark):
        """The output name is pasted into SQL text: a backtick in it must
        be escaped, not end the quoted identifier."""
        from tempo_spark.pipeline import sampling

        df = spark.range(40).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2).alias("shard"),
            (F.col("id") * 13 % 50 + 1).alias("n_tokens"),
        )
        args = (df, "n_tokens", 100, ["shard"], "doc_id")
        plain = sampling.assign_packs(*args).orderBy("doc_id").collect()
        odd = sampling.assign_packs(*args, out="pack`no").orderBy("doc_id")
        assert [r["pack`no"] for r in odd.collect()] == [
            r.pack_id for r in plain
        ]


class TestEmbeddingStorage:
    def test_normalize(self, vectors):
        out = {r.vec_id: r.embedding for r in similarity.normalize_embeddings(vectors).collect()}
        import math

        for vid, v in out.items():
            n = math.sqrt(sum(x * x for x in v))
            assert abs(n - 1.0) < 1e-9, (vid, n)
        # direction preserved
        assert out[0][0] > 0.99 and abs(out[4][0] + 1.0) < 1e-9

    def test_normalize_zero_vector_passthrough(self, spark):
        df = spark.createDataFrame([(0, [0.0, 0.0])], "vec_id long, embedding array<float>")
        r = similarity.normalize_embeddings(df).first()
        assert list(r.embedding) == [0.0, 0.0]

    def test_quantize_roundtrip_error_bound(self, spark):
        import random as _r

        _r.seed(7)
        rows = [(i, [_r.uniform(-2, 2) for _ in range(16)]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = similarity.quantize_embeddings(df, keep=True)
        assert dict(q.dtypes)["embedding_q8"] == "array<tinyint>"
        dq = similarity.dequantize_embeddings(q, out="emb2", keep=True)
        for r in dq.collect():
            err = max(abs(a - b) for a, b in zip(r.embedding, r.emb2))
            assert err <= r.q8_scale / 2 + 1e-9
        # cosine survives quantization to ~1% on random vectors
        import math

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

        got = dq.collect()
        for r in got:
            assert cos(r.embedding, r.emb2) > 0.99

    def test_quantize_drops_float_by_default(self, vectors):
        q = similarity.quantize_embeddings(vectors)
        assert "embedding" not in q.columns and "embedding_q8" in q.columns

    def test_no_shuffle_no_python(self, vectors):
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        out = similarity.quantize_embeddings(similarity.normalize_embeddings(vectors), keep=True)
        assert count_exchanges(out) == 0
        assert count_python_evals(out) == 0


class TestExplodePushdownGuard:
    def test_no_substituted_filter_below_generate(self, docs):
        """explode's implied size>0 filter must not re-inline the shingle
        chain: no Filter in the plan may contain an element_at (the
        signature of the hoisted columns being substituted back in)."""
        bench_docs = docs.where("doc_id < 2")
        out = dedup.ngram_contamination(docs, bench_docs, n=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        bad = [
            ln
            for ln in plan.splitlines()
            if ln.strip().startswith(("Filter", "+- Filter", "*(")) and "element_at" in ln
            and "Filter" in ln
        ]
        assert not bad, bad[:1]

    def test_minhash_bands_no_substituted_filter(self, docs):
        hashed = dedup.with_minhash(docs.where("length(text) > 0"), num_hashes=8)
        cands = dedup.minhash_lsh_candidates(hashed, "doc_id", bands=4)
        plan = cands._jdf.queryExecution().executedPlan().toString()
        bad = [
            ln
            for ln in plan.splitlines()
            if "Filter" in ln and "array_min" in ln
        ]
        assert not bad, bad[:1]


class TestHotBucketCap:
    """_bucket_capped_self_join: a degenerate corpus (every doc identical →
    one bucket) must emit O(N) candidate pairs (star on the bucket min id),
    not N(N-1)/2, while full-duplicate groups stay CC-connected; with no
    bucket over the cap the output is identical to the uncapped plan."""

    @pytest.fixture(scope="class")
    def clones(self, spark):
        n = 40
        rows = [(i, "same boilerplate text repeated in every document") for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string"), n

    def test_minhash_star_bounds_candidates(self, clones):
        df, n = clones
        sigs = dedup.with_minhash(df, "text", "minhash", 16, 3, True)
        capped = dedup.minhash_lsh_candidates(
            sigs.select("doc_id", "minhash"), "doc_id", bands=4, max_bucket_size=8
        )
        pairs = {(r.id_a, r.id_b) for r in capped.collect()}
        assert pairs == {(0, i) for i in range(1, n)}  # N-1 star edges, not N(N-1)/2

    def test_star_keeps_group_connected(self, clones):
        from tempo_spark.pipeline.components import connected_components

        df, n = clones
        pairs = dedup.minhash_dedup(
            df, "doc_id", threshold=0.5, shingle_k=3, use_words=True,
            max_bucket_size=8,
        )
        comps = connected_components(pairs)
        roots = {r.component for r in comps.collect()}
        assert roots == {0} and comps.count() == n  # one component, min-id root

    def test_cap_noop_when_buckets_small(self, docs):
        base = docs.where("length(text) > 0")
        uncapped = dedup.minhash_dedup(base, "doc_id", threshold=0.5)
        capped = dedup.minhash_dedup(base, "doc_id", threshold=0.5, max_bucket_size=100)
        key = lambda r: (r.id_a, r.id_b)
        assert sorted(map(key, uncapped.collect())) == sorted(map(key, capped.collect()))

    def test_simhash_star(self, clones):
        df, n = clones
        hashed = dedup.with_simhash(df, id_col="doc_id")
        pairs = dedup.simhash_near_dups(
            hashed, "doc_id", max_hamming=3, max_bucket_size=8
        )
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert got == {(0, i) for i in range(1, n)}

    def test_embedding_star(self, spark):
        n = 30
        df = spark.createDataFrame(
            [(i, [1.0, 0.0, 0.0]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        out = similarity.embedding_near_dups(df, dim=3, max_bucket_size=5)
        got = {(r.id_a, r.id_b) for r in out.collect()}
        assert got == {(0, i) for i in range(1, n)}

    def test_bad_cap(self, clones):
        df, _ = clones
        sigs = dedup.with_minhash(df, "text", "minhash", 16, 3, True)
        with pytest.raises(ValueError):
            dedup.minhash_lsh_candidates(
                sigs.select("doc_id", "minhash"), "doc_id", max_bucket_size=0
            ).collect()


class TestExactDedupPlan:
    def test_single_shuffle(self, docs):
        from tempo_spark.plans.inspect import count_exchanges

        out = dedup.exact_dedup(docs, "doc_id")
        # one digest shuffle — the former groupBy + join-back paid two
        assert count_exchanges(out) == 1

    def test_keep_max_and_validation(self, docs):
        out = {r.doc_id: r.dup_count for r in dedup.exact_dedup(docs, "doc_id", keep="max").collect()}
        assert 1 in out and 0 not in out and out[1] == 2
        with pytest.raises(ValueError):
            dedup.exact_dedup(docs, "doc_id", keep="first")


class TestBoilerplateNullId:
    def test_null_id_doc_gets_cleaned(self, spark):
        from tempo_spark.pipeline import filtering

        rows = [(i, f"keep me {i}\nSUBSCRIBE NOW") for i in range(10)] + [
            (None, "unique null-id text\nSUBSCRIBE NOW")
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.text for r in filtering.remove_boilerplate_lines(
            df, "doc_id", min_doc_freq=5
        ).collect()}
        # the NULL-id doc contributed to the frequency count, so it must
        # also receive the removal (a plain equi-join silently kept it)
        assert out[None] == "unique null-id text"
        assert out[0] == "keep me 0"


class TestMixByGroup:
    def _df(self, spark):
        from pyspark.sql import functions as SF

        return (
            spark.range(1250)
            .select(
                SF.col("id").alias("doc_id"),
                SF.when(SF.col("id") < 1000, "web").otherwise("code").alias("src"),
                SF.when(SF.col("id") < 1000, 100).otherwise(400).alias("n_tokens"),
            )
        )

    def test_waterfill_rows(self, spark):
        from tempo_spark.pipeline import sampling

        df = self._df(spark)  # 1000 web, 250 code
        out = sampling.mix_by_group(df, "doc_id", "src", {"web": 0.5, "code": 0.5})
        counts = {r.src: r["count"] for r in out.groupBy("src").count().collect()}
        # code is the bottleneck (250/0.5 < 1000/0.5): kept WHOLE
        assert counts["code"] == 250
        # web downsamples to rate 0.25 -> ~250 (hash-binomial tolerance)
        assert 150 <= counts["web"] <= 350

    def test_token_weighting_shifts_rates(self, spark):
        from tempo_spark.pipeline import sampling

        df = self._df(spark)  # token mass: web 100k, code 100k — balanced
        out = sampling.mix_by_group(
            df, "doc_id", "src", {"web": 0.5, "code": 0.5}, token_col="n_tokens"
        )
        counts = {r.src: r["count"] for r in out.groupBy("src").count().collect()}
        # equal token mass at equal shares -> BOTH groups kept whole
        assert counts == {"web": 1000, "code": 250}

    def test_flag_matches_drop_and_unlisted_false(self, spark):
        from tempo_spark.pipeline import sampling

        df = self._df(spark).withColumn(
            "src", F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("src"))
        )
        shares = {"web": 0.6, "code": 0.4}  # NULL src unlisted
        dropped = {r.doc_id for r in sampling.mix_by_group(df, "doc_id", "src", shares).collect()}
        flagged = sampling.mix_by_group(df, "doc_id", "src", shares, mode="flag")
        assert {r.doc_id for r in flagged.where("mix_keep").collect()} == dropped
        assert all(
            not r.mix_keep for r in flagged.collect() if r.src is None
        )

    def test_null_group_listable(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "a")], "doc_id long, src string"
        )
        out = sampling.mix_by_group(df, "doc_id", "src", {None: 0.5, "a": 0.5})
        srcs = {r.src for r in out.collect()}
        assert None in srcs  # the NULL group participates in the mixture

    def test_deterministic(self, spark):
        from tempo_spark.pipeline import sampling

        df = self._df(spark)
        a = {r.doc_id for r in sampling.mix_by_group(df, "doc_id", "src", {"web": 0.7, "code": 0.3}).collect()}
        b = {r.doc_id for r in sampling.mix_by_group(df, "doc_id", "src", {"web": 0.7, "code": 0.3}).collect()}
        assert a == b

    def test_validation(self, spark):
        from tempo_spark.pipeline import sampling

        df = self._df(spark)
        for bad in ({}, {"web": -1.0}, {"web": 0.0}):
            with pytest.raises(ValueError):
                sampling.mix_by_group(df, "doc_id", "src", bad).collect()
        with pytest.raises(ValueError):
            sampling.mix_by_group(df, "doc_id", "src", {"web": 1.0}, mode="wat")

    def test_big_side_never_shuffled(self, spark):
        from tempo_spark.pipeline import sampling
        from tempo_spark.plans.inspect import count_exchanges

        out = sampling.mix_by_group(self._df(spark), "doc_id", "src", {"web": 1.0})
        # only the narrow sizes branch exchanges; the corpus side is
        # scan -> broadcast-join -> filter
        assert count_exchanges(out) <= 1


class TestRedactPatterns:
    def test_default_patterns(self, spark):
        df = spark.createDataFrame(
            [(0, "mail me at a.b@example.com or see https://x.io/y now 1234567")],
            "doc_id long, text string",
        )
        got = text.redact_patterns(df).collect()[0].text
        assert got == "mail me at [emails] or see [urls] now [digit_runs]"

    def test_custom_replacement_and_out(self, spark):
        df = spark.createDataFrame([(0, "a@b.co here")], "doc_id long, text string")
        out = text.redact_patterns(
            df, patterns={"pii": r"[A-Za-z]+@[A-Za-z.]+"}, replacement="<X>", out="clean"
        ).collect()[0]
        assert out.clean == "<X> here" and out.text == "a@b.co here"


class TestDedupParagraphs:
    def test_keep_first_across_and_within_docs(self, spark):
        rows = [
            (0, "A\n\nB"),
            (1, "A\n\nC"),
            (2, "B\n\nB\n\nD"),
            (3, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.text for r in dedup.dedup_paragraphs(df, "doc_id").collect()}
        assert out[0] == "A\n\nB"   # both first occurrences
        assert out[1] == "C"        # A deduped (first seen in doc 0)
        assert out[2] == "D"        # B deduped twice (first seen in doc 0)
        assert out[3] is None       # null text passes through

    def test_within_doc_repeat(self, spark):
        df = spark.createDataFrame([(0, "X\n\nY\n\nX")], "doc_id long, text string")
        out = dedup.dedup_paragraphs(df, "doc_id").collect()[0].text
        assert out == "X\n\nY"

    def test_out_col_and_no_dups_noop(self, spark):
        df = spark.createDataFrame(
            [(0, "P\n\nQ"), (1, "R")], "doc_id long, text string"
        )
        out = {r.doc_id: (r.text, r.clean) for r in dedup.dedup_paragraphs(
            df, "doc_id", out="clean"
        ).collect()}
        assert out[0] == ("P\n\nQ", "P\n\nQ") and out[1] == ("R", "R")

    def test_document_scope(self, spark):
        """r9 scope='document': only WITHIN-doc repeats drop — the
        RefinedWeb in-document repeated-block filter; cross-doc repeats
        and null text pass through; exact dropped counts."""
        rows = [
            (0, "A\n\nB\n\nA\n\nC\n\nA"),  # A repeated twice in-doc
            (1, "A\n\nD"),                 # cross-doc 'A' must survive
            (2, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: (r.text, r.nd)
            for r in dedup.dedup_paragraphs(
                df, "doc_id", scope="document", out_dropped="nd"
            ).collect()
        }
        assert out[0] == ("A\n\nB\n\nC", 2)
        assert out[1] == ("A\n\nD", 0)
        assert out[2] == (None, 0)
        with pytest.raises(ValueError, match="scope"):
            dedup.dedup_paragraphs(df, "doc_id", scope="line")


class TestNgramLM:
    @pytest.fixture(scope="class")
    def ref(self, spark):
        return spark.createDataFrame(
            [(1, "the cat sat"), (2, "the cat ran"), (3, "the dog sat")],
            "doc_id long, text string",
        )

    def test_analytic_logprob(self, spark, ref):
        import math

        from tempo_spark.pipeline import text as t

        model = t.train_ngram_lm(ref)
        docs = spark.createDataFrame(
            [(10, "the cat sat"), (12, "x"), (13, None), (14, "")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.lm_logprob
            for r in t.with_lm_logprob(docs, model, "doc_id").collect()
        }
        # V=5; bigrams of doc 10: (<s>,the) 3/3, (the,cat) 2/3, (cat,sat) 1/2
        exp = (
            math.log(4 / 8) + math.log(3 / 8) + math.log(2 / 7)
        ) / 3
        assert got[10] == pytest.approx(exp, abs=1e-12)
        # single token: one bigram (<s>, x), unseen -> ln(1/(3+5))
        assert got[12] == pytest.approx(math.log(1 / 8), abs=1e-12)
        assert got[13] is None and got[14] is None

    def test_hash_family_parity_and_persistence(self, spark, ref, tmp_path):
        from tempo_spark.pipeline import text as t

        docs = ref.unionByName(
            spark.createDataFrame([(9, "zebra the cat")], "doc_id long, text string")
        )
        a = {
            r.doc_id: r.lm_logprob
            for r in t.with_lm_logprob(docs, t.train_ngram_lm(ref), "doc_id").collect()
        }
        raw_model = t.train_ngram_lm(ref, hash_family="raw")
        # a model is a plain DataFrame: parquet round-trip is the save path
        raw_model.write.parquet(str(tmp_path / "lm"))
        loaded = spark.read.parquet(str(tmp_path / "lm"))
        b = {
            r.doc_id: r.lm_logprob
            for r in t.with_lm_logprob(
                docs, loaded, "doc_id", hash_family="raw"
            ).collect()
        }
        assert a.keys() == b.keys()
        for k in a:
            assert a[k] == pytest.approx(b[k], abs=1e-12)

    def test_validation(self, spark, ref):
        from tempo_spark.pipeline import text as t

        with pytest.raises(ValueError, match="hash_family"):
            t.train_ngram_lm(ref, hash_family="md5")
        with pytest.raises(ValueError, match="hash_family"):
            t.with_lm_logprob(ref, t.train_ngram_lm(ref), "doc_id", hash_family="md5")

    def test_plan_no_python(self, spark, ref):
        from tempo_spark.pipeline import text as t
        from tempo_spark.plans.inspect import count_python_evals

        scored = t.with_lm_logprob(ref, t.train_ngram_lm(ref), "doc_id")
        assert count_python_evals(scored) == 0
        with pytest.raises(ValueError, match="already present"):
            t.with_lm_logprob(scored, t.train_ngram_lm(ref), "doc_id")


class TestRemoveDuplicateSpans:
    def test_keep_first_and_merge(self, spark):
        rows = [
            (1, "a b c d e f g h"),        # first occurrence of "a b c d" → kept
            (2, "x y a b c d z w"),        # later occurrence → 4 tokens cut
            (3, "a b c d"),                # whole doc is the dup span → emptied
            (4, "unique words only here"), # untouched, bytes preserved
            (5, "tiny"),                   # < n tokens → no grams, untouched
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: (r.text, r.nrm)
            for r in dedup.remove_duplicate_spans(
                df, "doc_id", n=4, out_removed="nrm"
            ).collect()
        }
        assert out[1] == ("a b c d e f g h", 0)
        assert out[2] == ("x y z w", 4)
        assert out[3] == ("", 4)
        assert out[4] == ("unique words only here", 0)
        assert out[5] == ("tiny", 0)
        assert out[6] == (None, 0)

    def test_overlapping_spans_merge_into_islands(self, spark):
        # doc 2 repeats a 6-token passage → three overlapping flagged
        # 4-grams merge into ONE covered interval of 6 tokens
        rows = [(1, "p q r s t u tail1"), (2, "head p q r s t u")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: (r.text, r.nrm)
            for r in dedup.remove_duplicate_spans(
                df, "doc_id", n=4, out_removed="nrm"
            ).collect()
        }
        assert out[1] == ("p q r s t u tail1", 0)
        assert out[2] == ("head", 6)

    def test_idempotent_and_min_count(self, spark):
        rows = [(i, "c0 c1 c2 c3 common") for i in range(3)] + [
            (10, "a b c d e"), (11, "z a b c d")
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # min_count=4: the 3-way span survives everywhere, the 2-way dies
        out = {
            r.doc_id: r.text
            for r in dedup.remove_duplicate_spans(df, "doc_id", n=4, min_count=4).collect()
        }
        assert all(out[i] == "c0 c1 c2 c3 common" for i in range(3))
        assert out[10] == "a b c d e" and out[11] == "z a b c d"
        # keep-first pass is idempotent: a second pass removes nothing
        once = dedup.remove_duplicate_spans(df, "doc_id", n=4)
        twice = dedup.remove_duplicate_spans(
            once, "doc_id", n=4, out_removed="nrm2"
        )
        assert [r.nrm2 for r in twice.collect()] == [0] * 5

    def test_md5_family_matches_xxhash(self, spark):
        rows = [(i, f"w{i % 3} a b c d e w{i % 5}") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = {r.doc_id: r.text for r in dedup.remove_duplicate_spans(df, "doc_id", n=5).collect()}
        b = {
            r.doc_id: r.text
            for r in dedup.remove_duplicate_spans(
                df, "doc_id", n=5, hash_family="md5_32"
            ).collect()
        }
        assert a == b

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dedup.remove_duplicate_spans(df, "doc_id", n=0)
        with pytest.raises(ValueError):
            dedup.remove_duplicate_spans(df, "doc_id", min_count=1)

    def test_winner_paths_parity_and_plan(self, spark):
        """Integral ids take the encoded HashAggregate winner path; string
        ids the struct SortAggregate fallback — same winners, including a
        NULL id which sorts FIRST on both (sentinel == struct null-first
        field ordering). r8 regression pin for _first_occurrence."""
        rows = [
            (3, "a b c d e"),
            (1, "z a b c d"),      # later 4-gram "a b c d" than id 3? no: id 1 < 3
            (None, "a b c d q"),   # null id sorts first -> its occurrence wins
        ]
        df_long = spark.createDataFrame(rows, "doc_id long, text string")
        df_str = spark.createDataFrame(
            [(str(i) if i is not None else None, t) for i, t in rows],
            "doc_id string, text string",
        )
        out_long = {
            r.doc_id: r.nrm
            for r in dedup.remove_duplicate_spans(
                df_long, "doc_id", n=4, out_removed="nrm"
            ).collect()
        }
        out_str = {
            (int(r.doc_id) if r.doc_id is not None else None): r.nrm
            for r in dedup.remove_duplicate_spans(
                df_str, "doc_id", n=4, out_removed="nrm"
            ).collect()
        }
        # null id wins "a b c d"; ids 1 and 3 each lose their occurrence
        assert out_long == {None: 0, 1: 4, 3: 4}
        assert out_str == out_long
        # plan: integral path aggregates hash-based, no SortAggregate on
        # the winner agg (struct min would force it)
        winners, _ = dedup._first_occurrence(
            dedup._gram_occurrences(df_long, "doc_id", "text", 4, "xxhash64"),
            "__tempo_gh", "doc_id", 2,
        )
        plan = winners._jdf.queryExecution().executedPlan().toString()
        assert "SortAggregate" not in plan
        assert "HashAggregate" in plan

    def test_plan_shape(self, spark):
        """No Python anywhere, and the shuffle count stays bounded (gram
        count agg, winner join, island window, span agg, join-back — a
        regression to per-row work or an extra text re-aggregation would
        show up here)."""
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        df = spark.createDataFrame(
            [(i, f"a b c d e f g h{i}") for i in range(50)],
            "doc_id long, text string",
        )
        out = dedup.remove_duplicate_spans(df, "doc_id", n=4)
        assert count_python_evals(out) == 0
        assert count_exchanges(out) <= 5


class TestChunkDocuments:
    def test_stride_overlap_and_edges(self, spark):
        from tempo_spark.pipeline import sampling

        rows = [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, "a b"), (3, ""), (4, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r.doc_id, r.chunk_idx): (r.chunk, r.n_chunks)
            for r in sampling.chunk_documents(
                df, "doc_id", max_tokens=4, overlap=1
            ).collect()
        }
        assert out[(1, 0)] == ("t0 t1 t2 t3", 3)
        assert out[(1, 1)] == ("t3 t4 t5 t6", 3)
        assert out[(1, 2)] == ("t6 t7 t8 t9", 3)
        assert out[(2, 0)] == ("a b", 1)       # at/under max -> one chunk
        assert out[(3, 0)] == ("", 1)          # empty doc -> one empty chunk
        assert out[(4, None)] == (None, None)  # null text stays visible

    def test_full_coverage_no_overlap(self, spark):
        from tempo_spark.pipeline import sampling

        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(100)))], "doc_id long, text string"
        )
        chunks = sampling.chunk_documents(df, "doc_id", max_tokens=16).collect()
        rebuilt = " ".join(c.chunk for c in sorted(chunks, key=lambda r: r.chunk_idx))
        assert rebuilt == " ".join(f"w{i}" for i in range(100))
        assert len(chunks) == 7  # ceil(100/16)

    def test_zero_shuffle_and_validation(self, spark):
        from tempo_spark.pipeline import sampling
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        out = sampling.chunk_documents(df, "doc_id", max_tokens=2, overlap=1)
        assert count_exchanges(out) == 0 and count_python_evals(out) == 0
        with pytest.raises(ValueError):
            sampling.chunk_documents(df, "doc_id", max_tokens=0)
        with pytest.raises(ValueError):
            sampling.chunk_documents(df, "doc_id", max_tokens=4, overlap=4)
        with pytest.raises(ValueError, match="already present"):
            sampling.chunk_documents(
                df.withColumn("chunk", F.lit("x")), "doc_id", max_tokens=4
            )


class TestRemoveContaminatedSpans:
    def test_surgical_cut_and_merge(self, spark):
        bench = spark.createDataFrame(
            [(100, "q1 q2 q3 q4"), (101, "q3 q4 q5 q6")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # overlapping contaminated grams -> ONE 6-token island
                (1, "intro q1 q2 q3 q4 q5 q6 outro more words"),
                (2, "totally clean document here"),
                (3, "q1 q2 q3 q4"),  # pure quote -> emptied
                (4, None),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.text, r.nrm)
            for r in dedup.remove_contaminated_spans(
                corpus, bench, n=4, out_removed="nrm"
            ).collect()
        }
        assert out[1] == ("intro outro more words", 6)
        assert out[2] == ("totally clean document here", 0)
        assert out[3] == ("", 4)
        assert out[4] == (None, 0)

    def test_family_parity_and_flag_vs_cut(self, spark):
        bench = spark.createDataFrame(
            [(0, "e1 e2 e3 e4 e5")], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [(i, f"u{i} a b e1 e2 e3 e4 e5 tail{i}") for i in range(10)],
            "doc_id long, text string",
        )
        a = {
            r.doc_id: r.text
            for r in dedup.remove_contaminated_spans(corpus, bench, n=5).collect()
        }
        b = {
            r.doc_id: r.text
            for r in dedup.remove_contaminated_spans(
                corpus, bench, n=5, hash_family="md5_32"
            ).collect()
        }
        assert a == b
        # every doc loses exactly the 5-token eval span
        assert all(a[i] == f"u{i} a b tail{i}" for i in range(10))
        # and the docs ngram_contamination FLAGS are exactly the docs cut
        flagged = {
            r.doc_id
            for r in dedup.ngram_contamination(corpus, bench, n=5).collect()
        }
        assert flagged == set(range(10))


class TestMixRatesFrozen:
    def test_frozen_rates_match_and_stream_compose(self, spark, tmp_path):
        import datetime as dt

        from tempo_spark.pipeline import sampling

        df = (
            spark.range(500)
            .select(
                F.col("id").alias("doc_id"),
                F.when(F.col("id") < 400, "web").otherwise("code").alias("src"),
            )
        )
        shares = {"web": 0.5, "code": 0.5}
        rates = sampling.mix_rates(df, "src", shares)
        got = {r.src: r.mix_rate for r in rates.collect()}
        assert got["code"] == 1.0 and got["web"] == pytest.approx(0.25)
        # frozen-rates membership == inline membership
        inline = {r.doc_id for r in sampling.mix_by_group(df, "doc_id", "src", shares).collect()}
        frozen = {r.doc_id for r in sampling.mix_by_group(
            df, "doc_id", "src", None, rates_df=rates
        ).collect()}
        assert inline == frozen
        # and the frozen apply side runs on a STREAMING frame
        d = str(tmp_path / "mixdocs")
        df.withColumn("ts", F.lit(dt.datetime(2020, 1, 1))).write.parquet(d)
        sdf = spark.readStream.schema("doc_id long, src string, ts timestamp").parquet(d)
        out = sampling.mix_by_group(sdf, "doc_id", "src", None, rates_df=rates)
        assert out.isStreaming
        q = (
            out.writeStream.format("memory").queryName("mix_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        streamed = {r.doc_id for r in spark.table("mix_stream").collect()}
        assert streamed == inline


class TestPrepareClassifierStage:
    def test_quality_model_filters_and_rederives(self, spark):
        from tempo_spark.pipeline.classifier import train_linear_classifier
        from tempo_spark.pipeline.prepare import prepare_corpus

        labeled = spark.createDataFrame(
            [
                (2 * i, "useful prose about science and data analysis", 1)
                for i in range(40)
            ]
            + [
                (2 * i + 1, "buy cheap pills click casino bonus spam", 0)
                for i in range(40)
            ],
            "doc_id long, text string, label int",
        )
        model = train_linear_classifier(labeled, n_features=256)
        docs = spark.createDataFrame(
            [
                (0, "careful science analysis of useful data"),
                (1, "cheap casino bonus click spam pills"),
            ],
            "doc_id long, text string",
        )
        out = prepare_corpus(
            docs, quality_model=model, min_clf_prob=0.5, exact_dedup=False
        )
        rows = {r.doc_id: r for r in out.collect()}
        assert sorted(rows) == [0]
        assert rows[0].clf_prob > 0.5  # annotation ships with the corpus
        with pytest.raises(ValueError, match="quality_model"):
            prepare_corpus(docs, min_clf_prob=0.5)


class TestUpsampleByWeight:
    def test_copies_and_epochs(self, spark):
        from tempo_spark.pipeline.sampling import upsample_by_weight

        rows = [
            (0, 0.0), (1, 1.0), (2, 2.0), (3, None), (4, -1.0),
            (5, float("nan")),  # r9 review: NaN compared > everything and
            #                     floor(NaN)->0 emitted one phantom copy
        ]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = {}
        for r in upsample_by_weight(df, "doc_id", "w").collect():
            got.setdefault(r.doc_id, []).append(r.epoch)
        assert all(k not in got for k in (0, 3, 4, 5))
        assert sorted(got[1]) == [0]
        assert sorted(got[2]) == [0, 1]
        with pytest.raises(ValueError, match="epoch"):
            upsample_by_weight(
                df.withColumn("epoch", F.lit(9)), "doc_id", "w"
            )

    def test_fractional_expectation_and_determinism(self, spark):
        from tempo_spark.pipeline.sampling import upsample_by_weight

        df = spark.range(4000).select(
            F.col("id").alias("doc_id"), F.lit(2.3).alias("w")
        )
        a = upsample_by_weight(df, "doc_id", "w").count()
        b = upsample_by_weight(df, "doc_id", "w").count()
        assert a == b  # deterministic
        assert abs(a / 4000 - 2.3) < 0.05  # expectation ~ weight

    def test_streaming_composes(self, spark, tmp_path):
        """Pure per-row explode — must run unchanged on a streaming frame
        with the same emitted (key, epoch) multiset as batch."""
        from tempo_spark.pipeline.sampling import upsample_by_weight

        df = spark.createDataFrame(
            [(0, 2.0), (1, 1.0), (2, 0.0)], "doc_id long, w double"
        )
        batch = sorted(
            (r.doc_id, r.epoch)
            for r in upsample_by_weight(df, "doc_id", "w").collect()
        )
        src = str(tmp_path / "ups_in")
        df.write.parquet(src)
        stream = spark.readStream.schema("doc_id long, w double").parquet(src)
        q = (
            upsample_by_weight(stream, "doc_id", "w")
            .writeStream.format("memory").queryName("ups_t")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        streamed = sorted(
            (r.doc_id, r.epoch)
            for r in spark.sql("select * from ups_t").collect()
        )
        assert streamed == batch

    def test_sub_one_weight_matches_sample_by_weight(self, spark):
        from tempo_spark.pipeline.sampling import (
            sample_by_weight,
            upsample_by_weight,
        )

        df = spark.range(2000).select(
            F.col("id").alias("doc_id"), F.lit(0.3).alias("w")
        )
        up = {
            r.doc_id
            for r in upsample_by_weight(
                df, "doc_id", "w", salt="s1"
            ).collect()
        }
        down = {
            r.doc_id
            for r in sample_by_weight(df, "doc_id", "w", salt="s1").collect()
        }
        assert up == down  # identical keep rule at weights in (0, 1)


class TestTemperatureMix:
    def _df(self, spark):
        return spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 800, "en")
            .when(F.col("id") < 950, "de")
            .otherwise("sw")
            .alias("lang"),
        )

    def test_tau_one_is_natural_proportions(self, spark):
        from tempo_spark.pipeline.sampling import temperature_rates

        got = {
            r.lang: r.mix_rate
            for r in temperature_rates(self._df(spark), "lang", 1.0).collect()
        }
        # share ∝ avail at τ=1 → every group's avail/share ties → all kept
        assert got == {"en": 1.0, "de": 1.0, "sw": 1.0}

    def test_low_tau_flattens_toward_uniform(self, spark):
        from tempo_spark.pipeline.sampling import (
            mix_by_temperature,
            temperature_rates,
        )

        df = self._df(spark)
        tau = 0.3
        got = {
            r.lang: r.mix_rate
            for r in temperature_rates(df, "lang", tau).collect()
        }
        # python replay of the waterfilling formula
        sizes = {"en": 800.0, "de": 150.0, "sw": 50.0}
        pw = {g: n**tau for g, n in sizes.items()}
        tot = sum(pw.values())
        share = {g: p / tot for g, p in pw.items()}
        mr = min(sizes[g] / share[g] for g in sizes)
        exp = {g: min(1.0, share[g] * mr / sizes[g]) for g in sizes}
        for g in sizes:
            assert got[g] == pytest.approx(exp[g], rel=1e-9), g
        # the low-resource group is the kept-whole bottleneck
        assert got["sw"] == 1.0 and got["en"] < got["de"] < 1.0
        # applied mixture approximates the shares (hash sampling)
        kept = (
            mix_by_temperature(df, "doc_id", "lang", tau)
            .groupBy("lang")
            .count()
            .collect()
        )
        counts = {r.lang: r["count"] for r in kept}
        assert counts["sw"] == 50  # bottleneck kept whole
        for g in sizes:
            assert counts[g] <= sizes[g]
            assert counts[g] == pytest.approx(sizes[g] * exp[g], rel=0.25)

    def test_rejects_nonpositive_tau(self, spark):
        from tempo_spark.pipeline.sampling import temperature_rates

        with pytest.raises(ValueError, match="temperature"):
            temperature_rates(self._df(spark), "lang", 0.0)


class TestPrepareCorpusNewStages:
    def test_redact_paragraph_and_mix(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        para = "shared boilerplate paragraph"
        rows = [
            (0, f"mail a@b.co today\n\n{para}", "web"),
            (1, f"totally fresh prose here\n\n{para}", "web"),
            (2, f"more unique words again\n\n{para}", "web"),
            (3, "short code snippet content", "code"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, src string")
        out = prepare_corpus(df, redact=True, paragraph_dedup=True)
        got = {r.doc_id: r for r in out.collect()}
        # redaction ran before hashing/signals
        assert "a@b.co" not in got[0].text and "[emails]" in got[0].text
        # the shared paragraph survives only at its first occurrence
        assert para in got[0].text
        assert all(para not in got[i].text for i in got if i != 0)
        # n_tokens recounted AFTER paragraph removal
        assert got[1].n_tokens == len(got[1].text.split())

        mixed = prepare_corpus(
            df, mix_group_col="src", mix_shares={"web": 0.5, "code": 0.5}
        )
        srcs = {r.doc_id: r.src for r in mixed.collect()}
        # code (1 doc) is the mixture bottleneck: kept whole; web downsamples
        assert 3 in srcs
        assert 1 <= sum(1 for s in srcs.values() if s == "web") < 3

    def test_mix_requires_shares(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        df = spark.createDataFrame([(0, "a b", "w")], "doc_id long, text string, src string")
        with pytest.raises(ValueError):
            prepare_corpus(df, mix_group_col="src")


class TestAnnRecall:
    def test_recall_math_and_k_trunc(self, spark):
        approx = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 99, 2)],
            "query_id long, vec_id long, rank int",
        )
        exact = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 21, 2), (2, 30, 1)],
            "query_id long, vec_id long, rank int",
        )
        out = {r.query_id: r for r in similarity.ann_recall(approx, exact).collect()}
        assert out[0].recall == 1.0
        assert out[1].recall == 0.5 and out[1].n_hit == 1 and out[1].n_exact == 2
        assert out[2].recall == 0.0  # query absent from approx entirely
        top1 = {r.query_id: r.recall for r in similarity.ann_recall(
            approx, exact, k=1
        ).collect()}
        assert top1 == {0: 1.0, 1: 1.0, 2: 0.0}

    def test_end_to_end_with_lsh(self, vectors):
        queries = vectors.select(F.col("vec_id").alias("query_id"), "embedding")
        exact = similarity.brute_force_topk(vectors, queries, k=2)
        approx = similarity.lsh_topk(vectors, queries, k=2, n_planes=2, dim=3)
        overall = similarity.ann_recall(approx, exact).agg(
            F.avg("recall").alias("r")
        ).collect()[0].r
        assert 0.0 <= overall <= 1.0
        # self-match always lands in the query's own bucket -> recall > 0
        assert overall > 0.0

    def test_k_requires_rank(self, spark):
        a = spark.createDataFrame([(0, 1)], "query_id long, vec_id long")
        with pytest.raises(ValueError):
            similarity.ann_recall(a, a, k=1)


class TestReviewFixesRound5:
    def test_exact_dedup_all_null_id_group_keeps_row(self, spark):
        df = spark.createDataFrame(
            [(None, "dup text"), (None, "dup text"), (7, "other")],
            "doc_id long, text string",
        )
        rows = {r.text: r for r in dedup.exact_dedup(df, "doc_id").collect()}
        # the all-null-id group keeps a REAL representative (text intact)
        assert rows["dup text"].dup_count == 2 and rows["dup text"].doc_id is None
        assert rows["other"].doc_id == 7
        # and a mixed group prefers the real id over the null one
        df2 = spark.createDataFrame(
            [(None, "d"), (3, "d")], "doc_id long, text string"
        )
        got = dedup.exact_dedup(df2, "doc_id").collect()
        assert len(got) == 1 and got[0].doc_id == 3
        got_max = dedup.exact_dedup(df2, "doc_id", keep="max").collect()
        assert len(got_max) == 1 and got_max[0].doc_id == 3

    def test_ann_recall_duplicate_approx_rows(self, spark):
        approx = spark.createDataFrame(
            [(0, 10), (0, 10)], "query_id long, vec_id long"
        )
        exact = spark.createDataFrame([(0, 10)], "query_id long, vec_id long")
        out = similarity.ann_recall(approx, exact).collect()[0]
        assert out.recall == 1.0 and out.n_hit == 1  # not 2.0

    def test_dedup_paragraphs_dropped_count_empty_survivor(self, spark):
        # doc 1's only survivor is an empty-string token: the split-length
        # diff is ambiguous there; out_dropped is exact
        df = spark.createDataFrame(
            [(0, "a"), (1, "  a")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in dedup.dedup_paragraphs(
            df, "doc_id", sep=" ", out="clean", out_dropped="nd"
        ).collect()}
        assert out[0].nd == 0
        assert out[1].nd == 2  # the second "" and the repeated "a"

    def test_redact_fixed_replacement_with_braces(self, spark):
        df = spark.createDataFrame([(0, "a@b.co x")], "doc_id long, text string")
        got = text.redact_patterns(
            df, patterns={"e": r"[a-z]+@[a-z.]+"}, replacement="{REDACTED}"
        ).collect()[0].text
        assert got == "{REDACTED} x"

    def test_prepare_signals_recomputed_after_paragraph_dedup(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        dup = "x y x y x y x y"
        rows = [(0, f"unique prose\n\n{dup}"), (1, f"other words\n\n{dup}")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in prepare_corpus(df, paragraph_dedup=True).collect()}
        # doc 1 lost the duplicated paragraph; its repetition signal must
        # describe the REWRITTEN text (no duplicated 2-grams left)
        assert out[1].text == "other words"
        assert out[1].dup_2gram_frac == 0.0
        assert out[1].n_tokens == 2

    def test_prepare_remove_foreign_paras_cleans_before_signals(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        en = "the cat is in the house and it is warm"
        fr = "le chat et la maison pour les amis dans un jour"
        df = spark.createDataFrame(
            [(0, f"{en}\n{fr}\n{en}")], "doc_id long, text string"
        )
        out = prepare_corpus(df, remove_foreign_paras=True).collect()[0]
        # the foreign paragraph is gone BEFORE signals: token count
        # describes the shipped (cleaned) text
        assert out.text == f"{en}\n{en}"
        assert out.n_tokens == 2 * len(en.split())

    def test_capped_lsh_still_correct_after_agg_rewrite(self, docs):
        base = docs.where("length(text) > 0")
        uncapped = dedup.minhash_dedup(base, "doc_id", threshold=0.5)
        capped = dedup.minhash_dedup(base, "doc_id", threshold=0.5, max_bucket_size=1)
        # with cap=1 every multi-doc bucket is a star on its min id; the
        # exact-dup pair (0,1) must still surface and verify
        got = {(r.id_a, r.id_b) for r in capped.collect()}
        assert (0, 1) in got
        assert got <= {(r.id_a, r.id_b) for r in uncapped.collect()}


class TestGopherFlags:
    def test_fractions(self, spark):
        rows = [
            (0, "- item one\n- item two\nplain line..."),
            (1, "abc 123 d4f 99"),
            (2, "## tags ## here"),
            (3, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in text.with_gopher_flags(df).collect()}
        assert out[0].bullet_line_frac == pytest.approx(2 / 3, abs=1e-6)
        assert out[0].ellipsis_line_frac == pytest.approx(1 / 3, abs=1e-6)
        assert out[1].alpha_word_frac == pytest.approx(0.5, abs=1e-6)  # abc, d4f
        assert out[2].symbol_word_ratio == pytest.approx(4 / 4, abs=1e-6)
        for c in ("alpha_word_frac", "bullet_line_frac",
                  "ellipsis_line_frac", "symbol_word_ratio"):
            assert out[3][c] == 0.0

    def test_no_shuffle_streamable(self, spark):
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        out = text.with_gopher_flags(df)
        assert count_exchanges(out) == 0 and count_python_evals(out) == 0


class TestGopherReservedCols:
    def test_reserved_staging_cols_rejected(self, spark):
        df = spark.createDataFrame([(0, "a b", 1)], "doc_id long, text string, __gf_toks int")
        with pytest.raises(ValueError, match="reserved"):
            text.with_gopher_flags(df)


class TestCharEntropy:
    def test_matches_python_model(self, spark):
        import math
        from collections import Counter

        rows = [
            (0, "aaaaaaaa"),
            (1, "abababab"),
            (2, "the quick brown fox"),
            (3, ""),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.char_entropy for r in text.with_char_entropy(df, "doc_id").collect()}

        def model(t):
            if not t:
                return 0.0
            c = Counter(t)
            n = len(t)
            h = -sum((k / n) * math.log2(k / n) for k in c.values())
            return math.floor(h * 1e6 + 0.5) / 1e6

        for i, t in rows:
            assert got[i] == pytest.approx(model(t), abs=2e-6), (i, t)
        assert got[0] == 0.0 and got[1] == pytest.approx(1.0)
        assert got[2] > 3.0

    def test_no_python_workers(self, spark):
        from tempo_spark.plans.inspect import count_python_evals

        df = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
        assert count_python_evals(text.with_char_entropy(df, "doc_id")) == 0


class TestBoilerplateDroppedCount:
    def test_out_dropped_exact(self, spark):
        rows = [(i, f"unique{i} SPAM SPAM keep{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from tempo_spark.pipeline import filtering

        out = {r.doc_id: (r.text, r.nd) for r in filtering.remove_boilerplate_lines(
            df, "doc_id", min_doc_freq=5, sep=" ", out_dropped="nd"
        ).collect()}
        for i in range(6):
            assert out[i] == (f"unique{i} keep{i}", 2)  # both SPAM tokens dropped


class TestNormalizeText:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_full_pipeline(self, spark):
        from tempo_spark.pipeline import text as T

        raw = "  Hello “World”…   \t foo \n\n\n\nbar ​ "
        df = self._df(spark, [(0, raw), (1, None)])
        got = {r.doc_id: r.norm for r in T.normalize_text(df, "text", "norm").collect()}
        assert got[0] == 'Hello "World"... foo\n\nbar'
        assert got[1] is None

    def test_quotes_dashes_nbsp(self, spark):
        from tempo_spark.pipeline import text as T

        df = self._df(spark, [(0, "‘x’ – y — z !")])
        [r] = T.normalize_text(df, "text").collect()
        assert r.text == "'x' - y - z !"

    def test_toggles_off_is_identity(self, spark):
        from tempo_spark.pipeline import text as T

        raw = "  A“B” \n\n\n C  "
        df = self._df(spark, [(0, raw)])
        [r] = T.normalize_text(
            df, "text",
            strip_control=False, normalize_quotes=False,
            collapse_whitespace=False, trim=False, lowercase=False,
        ).collect()
        assert r.text == raw

    def test_lowercase(self, spark):
        from tempo_spark.pipeline import text as T

        df = self._df(spark, [(0, "MiXeD Case")])
        [r] = T.normalize_text(df, "text", lowercase=True).collect()
        assert r.text == "mixed case"

    def test_control_chars_stripped_tabs_newlines_kept(self, spark):
        from tempo_spark.pipeline import text as T

        df = self._df(spark, [(0, "a\x00b\x07c\td\ne")])
        [r] = T.normalize_text(df, "text", collapse_whitespace=False, trim=False).collect()
        assert r.text == "abc\td\ne"

    def test_zero_shuffle_zero_python(self, spark):
        from tempo_spark.pipeline import text as T
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        df = self._df(spark, [(0, "x")])
        out = T.normalize_text(df, "text")
        assert count_exchanges(out) == 0
        assert count_python_evals(out) == 0

    def test_streaming_composes(self, spark, tmp_path):
        """normalize_text is stateless per-row — must run unchanged on a
        streaming frame (the stream-composition contract)."""
        from tempo_spark.pipeline import text as T

        src = str(tmp_path / "in")
        self._df(spark, [(0, "  A’s  ")]).write.parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            T.normalize_text(stream, "text")
            .writeStream.format("memory").queryName("norm_t")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        [r] = spark.sql("select * from norm_t").collect()
        assert r.text == "A's"

    def test_classifier_score_streaming_composes(self, spark, tmp_path):
        """LinearTextModel.score is a stream-static broadcast join + a
        per-row fold — must run unchanged on a streaming frame (the
        stream-composition contract), with values equal to the batch
        path."""
        from tempo_spark.pipeline.classifier import LinearTextModel

        model = LinearTextModel(
            [((b * 3) % 7 - 3) / 10.0 for b in range(32)], 0.1
        )
        rows = [(0, "alpha beta gamma"), (1, None), (2, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        batch = {r.doc_id: r.clf_logit for r in model.score(df).collect()}
        src = str(tmp_path / "clf_in")
        df.write.parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            model.score(stream)
            .writeStream.format("memory").queryName("clf_t")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        streamed = {
            r.doc_id: r.clf_logit
            for r in spark.sql("select * from clf_t").collect()
        }
        assert streamed == batch


class TestCorpusStats:
    def _df(self, spark):
        rows = [
            (1, "one two three", "a"),
            (2, "dup text", "a"),
            (3, "dup text", "a"),
            (4, None, "b"),
            (5, "x y z w v", "b"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, src string")

    def test_per_group_values(self, spark):
        from tempo_spark.pipeline import text as T

        got = {r.src: r.asDict() for r in T.corpus_stats(self._df(spark), ["src"]).collect()}
        a, b = got["a"], got["b"]
        assert (a["n_docs"], a["n_null_text"], a["n_distinct_docs"]) == (3, 0, 2)
        assert a["total_tokens"] == 3 + 2 + 2
        assert abs(a["dup_rate"] - 1 / 3) < 1e-12
        # null text counts as one distinct content (the digest sentinel —
        # agrees with exact_dedup's grouping) and contributes 0 tokens
        assert (b["n_docs"], b["n_null_text"], b["n_distinct_docs"]) == (2, 1, 2)
        assert b["total_tokens"] == 5
        assert b["mean_tokens"] == 5.0  # avg ignores the null-text row
        assert b["dup_rate"] == 0.0

    def test_global_and_percentiles(self, spark):
        from tempo_spark.pipeline import text as T

        [g] = T.corpus_stats(self._df(spark), percentiles=(0.5, 0.9)).collect()
        assert g["n_docs"] == 5 and g["n_distinct_docs"] == 4
        # exact interpolated percentile over token counts [3, 2, 2, 5]
        assert g["p50_tokens"] == 2.5
        assert "p90_tokens" in g.asDict()

    def test_percentile_name_collision_raises(self, spark):
        import pytest as _pytest

        from tempo_spark.pipeline import text as T

        with _pytest.raises(ValueError):
            T.corpus_stats(self._df(spark), percentiles=(0.5, 0.5)).collect()

    def test_approx_distinct_plan_and_values(self, spark):
        from tempo_spark.pipeline import text as T

        from tempo_spark.plans.inspect import count_exchanges, formatted_plan

        df = self._df(spark)
        exact_df = T.corpus_stats(df, ["src"])
        approx = T.corpus_stats(df, ["src"], exact=False)
        # exact count_distinct plans as four aggregate phases with an extra
        # exchange keyed by (group, digest) — full-corpus width; approx
        # (HLL++) stays one partial aggregation + one group-keyed exchange
        # — the 100 TB health-report shape
        assert count_exchanges(exact_df) == 2
        assert count_exchanges(approx) == 1
        assert "count(distinct" in formatted_plan(exact_df)
        assert "approx_count_distinct" in formatted_plan(approx)
        # at 4 distinct digests HLL++ is exact in practice — values hold
        got = {r.src: r.asDict() for r in approx.collect()}
        assert got["a"]["n_distinct_docs"] == 2
        assert got["b"]["n_distinct_docs"] == 2
        assert abs(got["a"]["dup_rate"] - 1 / 3) < 1e-12


class TestPrepareCorpusNormalize:
    def test_normalize_stage_dedups_quote_variants(self, spark):
        from tempo_spark.pipeline.prepare import prepare_corpus

        rows = [
            (1, 'say "hi" now'),
            (2, "say “hi”  now"),  # same content modulo quotes/whitespace
            (3, "different doc entirely"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = prepare_corpus(df, normalize=True, exact_dedup=True)
        kept = sorted(r.doc_id for r in out.collect())
        assert kept == [1, 3]
        # without normalization the quote variants survive as distinct
        out2 = prepare_corpus(df, exact_dedup=True)
        assert sorted(r.doc_id for r in out2.collect()) == [1, 2, 3]


class TestSentenceChunking:
    def test_with_sentences(self, spark):
        from tempo_spark.pipeline import text as T

        df = spark.createDataFrame(
            [(1, "  One two. Three!   Four? "), (2, ""), (3, None)],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.sentences for r in T.with_sentences(df).collect()}
        assert got[1] == ["One two.", "Three!", "Four?"]
        assert got[2] == []
        assert got[3] is None

    def test_token_grain_fallback_past_threshold(self, spark):
        # a row over sentence_fallback sentences takes the token-grain path
        # (budget still holds, chunk count = ceil(tokens/max_tokens));
        # sibling rows under the threshold keep sentence packing; nulls and
        # empties keep the contract
        from tempo_spark.pipeline.sampling import chunk_documents

        big = " ".join(f"w{i} w{i} end." for i in range(10))  # 10 sentences
        small = "One two three. Four five!"
        df = spark.createDataFrame(
            [(1, big), (2, small), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        rows = chunk_documents(
            df, "doc_id", max_tokens=5, boundary="sentence",
            sentence_fallback=4,
        ).collect()
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk))
        # doc 1: 30 tokens -> 6 token-grain chunks, mid-sentence cuts allowed
        got1 = sorted(by_doc[1])
        assert len(got1) == 6
        assert all(len(c.split()) == 5 for _, c in got1)
        assert " ".join(c for _, c in got1) == " ".join(big.split())
        # doc 2 (under threshold): greedy sentence packing unchanged
        assert sorted(by_doc[2]) == [(0, "One two three. Four five!")]
        assert sorted(by_doc[3]) == [(0, "")]
        assert by_doc[4] == [(None, None)]
        # fallback equals running the same doc through boundary="token"
        tok = sorted(
            (r.chunk_idx, r.chunk)
            for r in chunk_documents(
                df.where(F.col("doc_id") == 1), "doc_id",
                max_tokens=5, boundary="token",
            ).collect()
        )
        assert tok == got1

    def test_greedy_packing(self, spark):
        from tempo_spark.pipeline.sampling import chunk_documents

        df = spark.createDataFrame(
            [(1, "One two three. Four five! Six seven eight nine? Ten.")],
            "doc_id long, text string",
        )
        out = sorted(
            (r.chunk_idx, r.chunk)
            for r in chunk_documents(df, "doc_id", max_tokens=5, boundary="sentence").collect()
        )
        assert out == [
            (0, "One two three. Four five!"),
            (1, "Six seven eight nine? Ten."),
        ]

    def test_long_sentence_hard_split(self, spark):
        from tempo_spark.pipeline.sampling import chunk_documents

        df = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l m")], "doc_id long, text string"
        )
        out = sorted(
            (r.chunk_idx, r.chunk)
            for r in chunk_documents(df, "doc_id", max_tokens=5, boundary="sentence").collect()
        )
        assert out == [(0, "a b c d e"), (1, "f g h i j"), (2, "k l m")]

    def test_empty_and_null(self, spark):
        from tempo_spark.pipeline.sampling import chunk_documents

        df = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
        got = {
            r.doc_id: (r.n_chunks, r.chunk_idx, r.chunk)
            for r in chunk_documents(df, "doc_id", max_tokens=4, boundary="sentence").collect()
        }
        assert got[1] == (1, 0, "")
        assert got[2] == (None, None, None)

    def test_rejections(self, spark):
        import pytest as _pytest

        from tempo_spark.pipeline.sampling import chunk_documents

        df = spark.createDataFrame([(1, "x.")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_documents(df, "doc_id", max_tokens=4, overlap=1, boundary="sentence")
        with _pytest.raises(ValueError):
            chunk_documents(df, "doc_id", boundary="paragraph")

    def test_matches_python_model(self, spark):
        """Engine == reference greedy model on varied docs (budget respected,
        sentence order preserved, over-budget sentences token-split)."""
        import re

        from tempo_spark.pipeline.sampling import chunk_documents

        def model(text, mx):
            sents = [s for s in re.split(r"(?<=[.!?…])\s+", text.strip()) if s]
            pieces = []
            for s in sents:
                tk = s.split()
                if len(tk) <= mx:
                    pieces.append(s)
                else:
                    pieces += [" ".join(tk[i : i + mx]) for i in range(0, len(tk), mx)]
            chunks, cur, cur_n = [], [], 0
            for p in pieces:
                n = len(p.split())
                if cur_n > 0 and cur_n + n > mx:
                    chunks.append(" ".join(cur))
                    cur, cur_n = [p], n
                else:
                    cur.append(p)
                    cur_n += n
            if cur:
                chunks.append(" ".join(cur))
            return chunks or [""]

        texts = [
            "Short. Also short. Tiny.",
            "One long sentence with many many words that overflows the budget easily here.",
            "Mix. " * 10,
            "NoTerminalPunctuationAtAll just words " * 3,
            "A. B. C. D. E. F. G.",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        for mx in (3, 7, 50):
            got = {}
            for r in chunk_documents(df, "doc_id", max_tokens=mx, boundary="sentence").collect():
                got.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk))
            for i, t in enumerate(texts):
                engine = [c for _, c in sorted(got[i])]
                assert engine == model(t, mx), (i, mx, engine)

    def test_zero_shuffle_zero_python(self, spark):
        from tempo_spark.pipeline.sampling import chunk_documents
        from tempo_spark.plans.inspect import count_exchanges, count_python_evals

        df = spark.createDataFrame([(1, "a. b.")], "doc_id long, text string")
        out = chunk_documents(df, "doc_id", max_tokens=4, boundary="sentence")
        assert count_exchanges(out) == 0
        assert count_python_evals(out) == 0


class TestRefineTopk:
    """Exact rerank (faiss IndexRefineFlat): refine_topk + the rerank_k=
    wiring on adc_topk / ivf_pq_topk."""

    def _vecs(self, spark, n=120, dim=8, n_groups=4):
        import random

        random.seed(11)
        bases = [
            [10.0 * ((g >> b) & 1) for b in range(dim)] for g in range(n_groups)
        ]
        rows = [
            (
                i,
                [
                    bases[i % n_groups][d] + random.gauss(0, 0.05)
                    for d in range(dim)
                ],
            )
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def _numpy_l2_topk(self, data, qid, k):
        import numpy as np

        q = np.asarray(data[qid], dtype=np.float64)
        scored = sorted(
            (float(((np.asarray(v, dtype=np.float64) - q) ** 2).sum()), vid)
            for vid, v in data.items()
        )
        return [vid for _, vid in scored[:k]]

    def test_flat_rerank_recovers_exact_order(self, spark):
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        # deliberately coarse codec: ksub=2 quantizes brutally, so raw ADC
        # ties whole groups; the refine stage must restore the true order
        codec = PQCodec.train(vecs, m=2, ksub=2, seed=5)
        codes = codec.encode(vecs)
        queries = vecs.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = codec.adc_topk(
            codes, queries, k=5, rerank_k=70, vectors_df=vecs
        )
        assert set(out.columns) == {"query_id", "vec_id", "exact_dist", "rank"}
        got = {}
        for r in out.collect():
            got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        data = {r.vec_id: list(r.embedding) for r in vecs.collect()}
        for qid in (0, 1, 2):
            want = self._numpy_l2_topk(data, qid, 5)
            assert [v for _, v in sorted(got[qid])] == want, qid

    def test_ivf_pq_rerank_defaults_to_assigned(self, spark):
        from tempo_spark.pipeline.similarity import (
            IVFIndex,
            PQCodec,
            ivf_pq_topk,
        )

        vecs = self._vecs(spark)
        idx = IVFIndex.build(vecs, n_centroids=4, seed=7, init_mode="local")
        codec = PQCodec.train(vecs, m=2, ksub=2, seed=5)
        queries = vecs.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ivf_pq_topk(
            idx, codec, queries, k=5, nprobe=4, rerank_k=70
        ).collect()
        # nprobe=all cells -> candidate pool is the ADC top-70 of the whole
        # corpus; exact rerank must equal the numpy exact top-5
        data = {r.vec_id: list(r.embedding) for r in vecs.collect()}
        got = {}
        for r in out:
            got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        for qid in (0, 1, 2):
            want = self._numpy_l2_topk(data, qid, 5)
            assert [v for _, v in sorted(got[qid])] == want, qid

    def test_rerank_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.similarity import (
            IVFIndex,
            PQCodec,
            ivf_pq_topk,
        )

        vecs = self._vecs(spark, n=40)
        codec = PQCodec.train(vecs, m=2, ksub=2, seed=5)
        codes = codec.encode(vecs)
        queries = vecs.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        with pytest.raises(ValueError, match="vectors_df"):
            codec.adc_topk(codes, queries, k=5, rerank_k=10)
        with pytest.raises(ValueError, match="must be >= k"):
            codec.adc_topk(
                codes, queries, k=5, rerank_k=3, vectors_df=vecs
            )
        idx = IVFIndex.build(vecs, n_centroids=2, seed=7, init_mode="local")
        with pytest.raises(ValueError, match="must be >= k"):
            ivf_pq_topk(idx, codec, queries, k=5, rerank_k=3)

    def test_refine_null_vector_ranks_last(self, spark):
        from tempo_spark.pipeline.similarity import refine_topk

        vectors = spark.createDataFrame(
            [
                (0, [0.0, 0.0]),
                (1, [1.0, 1.0]),
                (2, None),
                (3, [2.0, 2.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(100, [0.0, 0.0])], "query_id long, embedding array<double>"
        )
        cands = spark.createDataFrame(
            [(100, 0), (100, 1), (100, 2), (100, 3)],
            "query_id long, vec_id long",
        )
        out = refine_topk(cands, vectors, queries, k=4)
        rows = {r.rank: (r.vec_id, r.exact_dist) for r in out.collect()}
        assert rows[1] == (0, 0.0)
        assert rows[2][0] == 1 and abs(rows[2][1] - 2.0) < 1e-12
        assert rows[3][0] == 3
        assert rows[4][0] == 2 and rows[4][1] is None

    def test_refine_null_query_id_survives(self, spark):
        """A NULL query id is a group in _adc_rank_topk's window — the
        refine stage must not silently drop it (ADVICE r9: eqNullSafe
        pair join, the _bm25_rank __qid idiom)."""
        from tempo_spark.pipeline.similarity import refine_topk

        vectors = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [2.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(None, [0.0, 0.0]), (7, [2.0, 2.0])],
            "query_id long, embedding array<double>",
        )
        cands = spark.createDataFrame(
            [(None, 0), (None, 1), (7, 2), (7, 1)],
            "query_id long, vec_id long",
        )
        out = refine_topk(cands, vectors, queries, k=1).collect()
        got = {r.query_id: r.vec_id for r in out}
        assert got == {None: 0, 7: 2}

    def test_refine_broadcast_plan(self, spark):
        from tempo_spark.pipeline.similarity import PQCodec

        vecs = self._vecs(spark)
        codec = PQCodec.train(vecs, m=2, ksub=2, seed=5)
        codes = codec.encode(vecs)
        queries = vecs.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = codec.adc_topk(
            codes, queries, k=5, rerank_k=20, vectors_df=vecs
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the candidate pair table must broadcast into the corpus scan —
        # the corpus is never shuffled for the refine join
        assert "BroadcastHashJoin" in plan


class TestBM25:
    """bm25_topk: Okapi BM25 retrieval vs a pure-python model."""

    _DOCS = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown cat sleeps all day long"),
        (2, "a fox and a cat walk into a bar"),
        (3, "dogs and cats living together mass hysteria"),
        (4, "Quick QUICK quick repetition of quick words here now"),
        (5, ""),
        (6, None),
    ]

    def _model(self, queries, k1=1.2, b=0.75, k=10):
        import math

        docs = {
            i: (t or "").lower().split() for i, t in self._DOCS
        }
        n = len(self._DOCS)
        # avgdl over docs with a tokenizable text: null text has no tokens
        # col; empty text tokenizes to []
        dls = {i: len(v) for i, v in docs.items() if self._DOCS[i][1] is not None}
        avgdl = sum(dls.values()) / len(dls)
        out = {}
        for qid, qtext in queries:
            terms = sorted(set(qtext.lower().split()))
            scores = []
            for i, toks in docs.items():
                tf_by_t = {t: toks.count(t) for t in terms if toks.count(t) > 0}
                if not tf_by_t:
                    continue
                s = 0.0
                for t, tf in tf_by_t.items():
                    df = sum(1 for v in docs.values() if t in v)
                    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                    s += idf * (tf * (k1 + 1)) / (
                        tf + k1 * (1 - b + b * dls[i] / avgdl)
                    )
                scores.append(
                    (-(math.floor(s * 1e6 + 0.5)), -len(tf_by_t),
                     -sum(tf_by_t.values()), i, s)
                )
            scores.sort()
            out[qid] = [(i, s) for *_k, i, s in scores[:k]]
        return out

    def test_matches_python_model(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(self._DOCS, "doc_id long, text string")
        qrows = [(100, "quick fox"), (101, "cat"), (102, "zebra unseen")]
        queries = spark.createDataFrame(qrows, "query_id long, text string")
        got = {}
        rows = bm25_topk(corpus, queries, k=10).collect()
        for r in rows:
            got.setdefault(r.query_id, []).append(
                (r.rank, r.doc_id, r.score, r.matched, r.tf_sum)
            )
        want = self._model(qrows)
        assert sorted(got) == [100, 101]  # zebra query: retrieval miss
        for qid in got:
            ordered = [x for _, *x in sorted(got[qid])]
            assert [d for d, *_ in ordered] == [d for d, _ in want[qid]], qid
            for (d, s_spark, *_rest), (_, s_model) in zip(ordered, want[qid]):
                assert abs(s_spark - s_model) < 1e-9, (qid, d)

    def test_rank_and_counts(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(self._DOCS, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(1, "quick fox")], "query_id long, text string"
        )
        rows = {r.doc_id: r for r in bm25_topk(corpus, queries, k=3).collect()}
        # doc 0 matches both terms; matched/tf_sum are exact integers
        assert rows[0].matched == 2 and rows[0].tf_sum == 2
        assert sorted(r.rank for r in rows.values()) == [1, 2, 3]

    def test_query_term_repetition_ignored(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(self._DOCS, "doc_id long, text string")
        q1 = spark.createDataFrame([(1, "quick")], "query_id long, text string")
        q2 = spark.createDataFrame(
            [(1, "quick quick quick")], "query_id long, text string"
        )
        a = {(r.doc_id, r.rank, r.score) for r in bm25_topk(corpus, q1).collect()}
        b = {(r.doc_id, r.rank, r.score) for r in bm25_topk(corpus, q2).collect()}
        assert a == b

    def test_corpus_never_shuffled_for_scoring(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(self._DOCS, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(1, "quick fox")], "query_id long, text string"
        )
        plan = (
            bm25_topk(corpus, queries, k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(self._DOCS, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(1, "x")], "query_id long, text string"
        )
        with pytest.raises(ValueError, match="k must be"):
            bm25_topk(corpus, queries, k=0)


class TestTakeTokenBudget:
    """take_token_budget: greedy budget fill via hash-bucket prefix sums."""

    def _docs(self, spark, n=300):
        import random

        random.seed(7)
        langs = ["en", "de", None]
        rows = [
            (
                i,
                langs[i % 3],
                " ".join(f"w{j}" for j in range(random.randint(1, 30))),
                random.random(),
            )
            for i in range(n)
        ]
        rows.append((n, "en", None, 0.5))   # null text -> 0 tokens
        return spark.createDataFrame(
            rows, "doc_id long, lang string, text string, q double"
        )

    @staticmethod
    def _md5h(i, salt="budget"):
        import hashlib

        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)

    def test_matches_python_model_md5(self, spark):
        from tempo_spark.pipeline.sampling import take_token_budget

        df = self._docs(spark)
        budget = 800
        out = take_token_budget(
            df, budget, id_col="doc_id", hash_family="md5_32"
        )
        got = sorted(r.doc_id for r in out.collect())
        rows = df.collect()
        toks = {
            r.doc_id: len(r.text.split()) if r.text else 0 for r in rows
        }
        order = sorted(rows, key=lambda r: (self._md5h(r.doc_id), r.doc_id))
        want, cum = [], 0
        for r in order:
            if cum < budget:
                want.append(r.doc_id)
            cum += toks[r.doc_id]
        assert got == sorted(want)
        kept_tokens = sum(toks[d] for d in got)
        assert kept_tokens >= budget  # enough data: budget is a floor
        assert kept_tokens < budget + 30  # overshoot < one max doc

    def test_per_group_budget_with_null_group(self, spark):
        from tempo_spark.pipeline.sampling import take_token_budget

        df = self._docs(spark)
        budget = 300
        out = take_token_budget(
            df, budget, id_col="doc_id", by=["lang"], hash_family="md5_32"
        ).collect()
        rows = df.collect()
        toks = {r.doc_id: len(r.text.split()) if r.text else 0 for r in rows}
        bylang = {}
        for r in sorted(rows, key=lambda r: (self._md5h(r.doc_id), r.doc_id)):
            cum = bylang.setdefault(r.lang, [0, []])
            if cum[0] < budget:
                cum[1].append(r.doc_id)
            cum[0] += toks[r.doc_id]
        got = {}
        for r in out:
            got.setdefault(r.lang, []).append(r.doc_id)
        assert set(got) == set(bylang)  # null group kept as a group
        for lang in bylang:
            assert sorted(got[lang]) == sorted(bylang[lang][1]), lang

    def test_order_by_quality(self, spark):
        import pyspark.sql.functions as F

        from tempo_spark.pipeline.sampling import take_token_budget

        df = self._docs(spark, n=60)
        out = take_token_budget(
            df, 200, id_col="doc_id", by=["lang"],
            order_by=F.col("q").desc(),
        ).collect()
        rows = df.collect()
        toks = {r.doc_id: len(r.text.split()) if r.text else 0 for r in rows}
        bylang = {}
        for r in sorted(rows, key=lambda r: (-r.q, r.doc_id)):
            cum = bylang.setdefault(r.lang, [0, []])
            if cum[0] < 200:
                cum[1].append(r.doc_id)
            cum[0] += toks[r.doc_id]
        got = {}
        for r in out:
            got.setdefault(r.lang, []).append(r.doc_id)
        for lang in bylang:
            assert sorted(got.get(lang, [])) == sorted(bylang[lang][1]), lang

    def test_flag_mode_and_edges(self, spark):
        from tempo_spark.pipeline.sampling import take_token_budget

        df = self._docs(spark, n=30)
        flagged = take_token_budget(
            df, 10**9, id_col="doc_id", keep_col="keep"
        )
        assert set(flagged.columns) == set(df.columns) | {"keep"}
        assert all(r.keep for r in flagged.collect())
        assert take_token_budget(df, 0, id_col="doc_id").count() == 0

    def test_bucket_bits_invariance(self, spark):
        from tempo_spark.pipeline.sampling import take_token_budget

        df = self._docs(spark, n=200)
        a = sorted(
            r.doc_id
            for r in take_token_budget(
                df, 500, id_col="doc_id", n_buckets_bits=12
            ).collect()
        )
        b = sorted(
            r.doc_id
            for r in take_token_budget(
                df, 500, id_col="doc_id", n_buckets_bits=2
            ).collect()
        )
        assert a == b  # decomposition granularity never changes the answer

    def test_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.sampling import take_token_budget

        df = self._docs(spark, n=5)
        with pytest.raises(ValueError, match="budget"):
            take_token_budget(df, -1, id_col="doc_id")
        with pytest.raises(ValueError, match="not in DataFrame"):
            take_token_budget(df, 10, id_col="nope")
        with pytest.raises(ValueError, match="already exists"):
            take_token_budget(df, 10, id_col="doc_id", keep_col="lang")


class TestBM25Index:
    """BM25Index: build/save/load/topk == the ad-hoc bm25_topk."""

    def test_index_matches_adhoc_and_roundtrips(self, spark, tmp_path):
        from tempo_spark.pipeline.search import BM25Index, bm25_topk

        corpus = spark.createDataFrame(
            TestBM25._DOCS, "doc_id long, text string"
        )
        queries = spark.createDataFrame(
            [(100, "quick fox"), (101, "cat"), (102, "zebra unseen")],
            "query_id long, text string",
        )
        want = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9), r.matched, r.tf_sum)
            for r in bm25_topk(corpus, queries, k=10).collect()
        }
        idx = BM25Index.build(corpus)
        got = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9), r.matched, r.tf_sum)
            for r in idx.topk(queries, k=10).collect()
        }
        assert got == want
        path = str(tmp_path / "bm25idx")
        idx.save(path, n_files=4)
        loaded = BM25Index.load(spark, path)
        assert loaded.lowercase is True and loaded.id_col == "doc_id"
        got2 = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9), r.matched, r.tf_sum)
            for r in loaded.topk(queries, k=10).collect()
        }
        assert got2 == want

    def test_indexed_topk_touches_no_text(self, spark, tmp_path):
        from tempo_spark.pipeline.search import BM25Index

        corpus = spark.createDataFrame(
            TestBM25._DOCS, "doc_id long, text string"
        )
        path = str(tmp_path / "bm25idx2")
        BM25Index.build(corpus).save(path)
        loaded = BM25Index.load(spark, path)
        queries = spark.createDataFrame(
            [(1, "quick")], "query_id long, text string"
        )
        plan = (
            loaded.topk(queries, k=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # scoring reads only the postings/dfreq/stats parquet — no scan
        # schema may carry a text column, and the corpus is never
        # sort-merge-joined
        for line in plan.splitlines():
            if "ReadSchema" in line:
                assert "text" not in line, line
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan


class TestPageRank:
    """pagerank: float path vs python model; exact integer path bit-pinned."""

    _EDGES = [
        (0, 1), (1, 2), (2, 0),          # a 3-cycle
        (3, 0), (4, 0), (5, 0),          # spokes into the cycle
        (0, 3),                           # backlink
        (6, 0),                           # 7 is dangling (no out-edges at all)
        (5, 0),                           # parallel edge (multigraph)
        (2, 7),
    ]

    def _model_float(self, edges, d=0.85, iters=10):
        from collections import Counter

        nodes = sorted({u for e in edges for u in e})
        n = len(nodes)
        deg = Counter(u for u, _ in edges)
        r = {v: 1.0 / n for v in nodes}
        for _ in range(iters):
            dm = sum(r[v] for v in nodes if deg[v] == 0)
            inc = {v: 0.0 for v in nodes}
            for u, v in edges:
                inc[v] += r[u] / deg[u]
            r = {v: (1 - d) / n + d * (inc[v] + dm / n) for v in nodes}
        return r

    def _model_int(self, edges, S, p=17, q=20, iters=10):
        from collections import Counter

        nodes = sorted({u for e in edges for u in e})
        n = len(nodes)
        deg = Counter(u for u, _ in edges)
        r = {v: S // n for v in nodes}
        base = (S * (q - p)) // (q * n)
        for _ in range(iters):
            dm = sum(r[v] for v in nodes if deg[v] == 0)
            inc = {v: 0 for v in nodes}
            for u, v in edges:
                inc[v] += r[u] // deg[u]
            r = {v: base + (p * (inc[v] + dm // n)) // q for v in nodes}
        return r

    def test_float_matches_model(self, spark):
        from tempo_spark.pipeline.graph import pagerank

        edges = spark.createDataFrame(self._EDGES, "src long, dst long")
        got = {r.id: r.rank for r in pagerank(edges, iters=10).collect()}
        want = self._model_float(self._EDGES)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, v
        assert abs(sum(got.values()) - 1.0) < 1e-9  # a distribution

    def test_ring_is_uniform(self, spark):
        from tempo_spark.pipeline.graph import pagerank

        ring = [(i, (i + 1) % 5) for i in range(5)]
        edges = spark.createDataFrame(ring, "src long, dst long")
        got = [r.rank for r in pagerank(edges, iters=5).collect()]
        for v in got:
            assert abs(v - 0.2) < 1e-12

    def test_exact_scale_bit_pinned(self, spark):
        from tempo_spark.pipeline.graph import pagerank

        edges = spark.createDataFrame(self._EDGES, "src long, dst long")
        S = 10**12
        got = {
            r.id: r.rank_scaled
            for r in pagerank(edges, iters=10, exact_scale=S).collect()
        }
        want = self._model_int(self._EDGES, S)
        assert got == want
        # integer floors only ever LOSE mass, and only a little
        assert 0.999 * S < sum(got.values()) <= S

    def test_null_edges_dropped_and_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.graph import pagerank

        edges = spark.createDataFrame(
            [(0, 1), (1, 0), (None, 0), (1, None)], "src long, dst long"
        )
        got = {r.id: r.rank for r in pagerank(edges, iters=3).collect()}
        assert set(got) == {0, 1}
        assert abs(sum(got.values()) - 1.0) < 1e-9
        with pytest.raises(ValueError, match="iters"):
            pagerank(edges, iters=0)
        with pytest.raises(ValueError, match="damping"):
            pagerank(edges, damping=1.0)


class TestNearDedupPriority:
    def test_priority_survivor(self, spark):
        from tempo_spark.pipeline.components import near_dedup

        df = spark.createDataFrame(
            [
                (0, 0.2), (1, 0.9), (2, 0.9), (3, None),  # cluster {0,1,2,3}
                (4, 0.5), (5, 0.1),                        # cluster {4,5}
                (6, 0.0),                                  # unclustered
            ],
            "doc_id long, q double",
        )
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
        kept = sorted(
            r.doc_id
            for r in near_dedup(df, pairs, "doc_id", priority_col="q").collect()
        )
        # cluster 1: max q=0.9 tie between 1,2 -> min id 1; null q (3) loses
        # cluster 2: 4 wins; 6 untouched
        assert kept == [1, 4, 6]

    def test_priority_validation(self, spark):
        import pytest

        from tempo_spark.pipeline.components import near_dedup

        df = spark.createDataFrame([(0, 1.0)], "doc_id long, q double")
        pairs = spark.createDataFrame([(0, 0)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="priority_col"):
            near_dedup(df, pairs, "doc_id", priority_col="nope")

    def test_priority_no_broadcast_parity(self, spark):
        """broadcast_labels=False (ADVICE r9 opt-out for pair graphs past
        the broadcast limit) must keep the identical survivor set."""
        from tempo_spark.pipeline.components import near_dedup

        df = spark.createDataFrame(
            [(0, 0.2), (1, 0.9), (2, 0.9), (3, None), (4, 0.5), (5, 0.1), (6, 0.0)],
            "doc_id long, q double",
        )
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
        kept = sorted(
            r.doc_id
            for r in near_dedup(
                df, pairs, "doc_id", priority_col="q", broadcast_labels=False
            ).collect()
        )
        assert kept == [1, 4, 6]


class TestCollocations:
    def test_matches_python_model(self, spark):
        import math
        from collections import Counter

        from tempo_spark.pipeline.text import top_collocations

        texts = [
            "new york is big and new york is busy",
            "san francisco and new york",
            "the city of san francisco",
            "big and busy city",
            "",
            None,
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r.term_a, r.term_b, r.pair_count, r.count_a, r.count_b,
             round(r.pmi, 9), r.rank)
            for r in top_collocations(df, k=5, min_count=2).collect()
        ]
        toks = [t.lower().split() for t in texts if t]
        uni = Counter(w for ts in toks for w in ts)
        pc = Counter(
            (a, b) for ts in toks for a, b in zip(ts, ts[1:])
        )
        T = sum(uni.values())
        B = sum(len(ts) - 1 for ts in toks if len(ts) > 0)
        cand = []
        for (a, b), c in pc.items():
            if c < 2:
                continue
            pmi = math.log((c / B) / ((uni[a] / T) * (uni[b] / T)))
            cand.append((-math.floor(pmi * 1e6 + 0.5), -c, a, b, c, pmi))
        cand.sort()
        want = [
            (a, b, c, uni[a], uni[b], round(pmi, 9), i + 1)
            for i, (_q, _c, a, b, c, pmi) in enumerate(cand[:5])
        ]
        assert got == want
        assert got[0][:2] == ("san", "francisco")  # perfect collocation

    def test_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.text import top_collocations

        df = spark.createDataFrame([("a b",)], "text string")
        with pytest.raises(ValueError, match="k must"):
            top_collocations(df, k=0)
        with pytest.raises(ValueError, match="min_count"):
            top_collocations(df, min_count=0)


class TestBM25IndexAdd:
    def test_add_equals_full_rebuild(self, spark):
        from tempo_spark.pipeline.search import BM25Index

        full = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        old = full.where(F.col("doc_id") < 4)
        new = full.where(F.col("doc_id") >= 4)  # includes empty + null text
        queries = spark.createDataFrame(
            [(100, "quick fox"), (101, "cat")], "query_id long, text string"
        )
        want = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
            for r in BM25Index.build(full).topk(queries, k=10).collect()
        }
        grown = BM25Index.build(old).add(new)
        got = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
            for r in grown.topk(queries, k=10).collect()
        }
        assert got == want
        # stats components merged exactly
        s = grown.stats.head()
        sf = BM25Index.build(full).stats.head()
        assert (s.n_docs, s.n_dl, s.sum_dl) == (sf.n_docs, sf.n_dl, sf.sum_dl)


class TestSessionReviewFixes:
    """Regression pins for the r9-cont review findings."""

    def test_near_dedup_priority_tolerates_duplicate_id_rows(self, spark):
        from tempo_spark.pipeline.components import near_dedup

        df = spark.createDataFrame(
            [(0, 0.2), (1, 0.9), (1, 0.9), (2, 0.5)],  # id 1 duplicated
            "doc_id long, q double",
        )
        pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
        out = near_dedup(df, pairs, "doc_id", priority_col="q").collect()
        # winner id 1 keeps BOTH its rows; losers 0/2 gone entirely
        assert sorted(r.doc_id for r in out) == [1, 1]

    def test_take_token_budget_reserved_keep_col(self, spark):
        import pytest

        from tempo_spark.pipeline.sampling import take_token_budget

        df = spark.createDataFrame(
            [(0, "a b", True)], "doc_id long, text string, __tb_keep boolean"
        )
        with pytest.raises(ValueError, match="reserved"):
            take_token_budget(df, 10, id_col="doc_id")

    def test_bm25_index_append_save_reads_back_merged(self, spark, tmp_path):
        from tempo_spark.pipeline.search import BM25Index

        full = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        old = full.where(F.col("doc_id") < 4)
        new = full.where(F.col("doc_id") >= 4)
        queries = spark.createDataFrame(
            [(100, "quick fox"), (101, "cat")], "query_id long, text string"
        )
        path = str(tmp_path / "bm25_appended")
        BM25Index.build(old).save(path)
        BM25Index.build(new).save(path, mode="append")
        loaded = BM25Index.load(spark, path)
        want = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
            for r in BM25Index.build(full).topk(queries, k=10).collect()
        }
        got = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
            for r in loaded.topk(queries, k=10).collect()
        }
        assert got == want

    def test_bm25_shuffle_join_path_equal(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(1, "the quick")], "query_id long, text string"  # hot term
        )
        a = {
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in bm25_topk(corpus, queries, k=10).collect()
        }
        b = {
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in bm25_topk(
                corpus, queries, k=10, broadcast_matched=False
            ).collect()
        }
        assert a == b

    def test_pagerank_exact_scale_validation(self, spark):
        import pytest

        from tempo_spark.pipeline.graph import pagerank

        edges = spark.createDataFrame([(0, 1)], "src long, dst long")
        with pytest.raises(ValueError, match="exact_scale"):
            pagerank(edges, exact_scale=0)

    def test_rollup_grain_col_metric_collision(self, spark):
        import datetime as dt

        import pytest

        from tempo_spark import TSDF

        df = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1), 1.0)],
            "sym string, ts timestamp, v double",
        )
        t = TSDF(df, ts_col="ts", series_ids=["sym"])
        with pytest.raises(ValueError, match="output column"):
            t.resample_rollup(["5 minutes", "10 minutes"], "sum", grain_col="v")


class TestWeightedPageRank:
    def test_weighted_matches_model_and_parallel_edges(self, spark):
        from tempo_spark.pipeline.graph import pagerank

        # integer weights: weighted result must equal the unweighted run
        # over the weight-expanded multigraph (w parallel edges)
        weighted = [(0, 1, 2.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 3.0)]
        wdf = spark.createDataFrame(weighted, "src long, dst long, w double")
        expanded = [
            (s, d) for s, d, w in weighted for _ in range(int(w))
        ]
        edf = spark.createDataFrame(expanded, "src long, dst long")
        a = {
            r.id: r.rank
            for r in pagerank(wdf, iters=8, weight_col="w").collect()
        }
        b = {r.id: r.rank for r in pagerank(edf, iters=8).collect()}
        assert set(a) == set(b)
        for v in a:
            assert abs(a[v] - b[v]) < 1e-9, v
        assert abs(sum(a.values()) - 1.0) < 1e-9

    def test_weighted_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.graph import pagerank

        wdf = spark.createDataFrame(
            [(0, 1, 1.0), (1, 0, None), (0, 2, -1.0)],
            "src long, dst long, w double",
        )
        with pytest.raises(ValueError, match="incompatible"):
            pagerank(wdf, weight_col="w", exact_scale=10**9)
        # null / non-positive weights dropped: only 0->1 remains; 1 and 2
        # become dangling/absent respectively
        got = {r.id for r in pagerank(wdf, iters=3, weight_col="w").collect()}
        assert got == {0, 1}


class TestSecondReviewFixes:
    def test_pagerank_nan_weight_dropped(self, spark):
        from tempo_spark.pipeline.graph import pagerank

        wdf = spark.createDataFrame(
            [(0, 1, 1.0), (1, 0, float("nan")), (1, 0, 2.0)],
            "src long, dst long, w double",
        )
        got = {r.id: r.rank for r in pagerank(wdf, iters=5, weight_col="w").collect()}
        assert all(v == v for v in got.values())  # no NaN ranks
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_near_dedup_nan_priority_loses(self, spark):
        from tempo_spark.pipeline.components import near_dedup

        df = spark.createDataFrame(
            [(0, 0.9), (1, float("nan")), (2, 0.1)],
            "doc_id long, q double",
        )
        pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
        kept = [r.doc_id for r in near_dedup(df, pairs, "doc_id", priority_col="q").collect()]
        assert kept == [0]  # 0.9 wins; NaN does NOT


class TestPersonalizedPageRank:
    def _model_ppr(self, edges, seed_set, d=0.85, iters=10):
        from collections import Counter

        nodes = sorted({u for e in edges for u in e})
        deg = Counter(u for u, _ in edges)
        ns = len(seed_set)
        r = {v: (1.0 / ns if v in seed_set else 0.0) for v in nodes}
        for _ in range(iters):
            dm = sum(r[v] for v in nodes if deg[v] == 0)
            inc = {v: 0.0 for v in nodes}
            for u, v in edges:
                inc[v] += r[u] / deg[u]
            r = {
                v: ((1 - d) / ns if v in seed_set else 0.0)
                + d * (inc[v] + (dm / ns if v in seed_set else 0.0))
                for v in nodes
            }
        return r

    def test_matches_model_and_decays_from_seeds(self, spark):
        from tempo_spark.pipeline.graph import pagerank

        # chain 0->1->2->3 plus an unreachable island 8<->9
        edges = [(0, 1), (1, 2), (2, 3), (8, 9), (9, 8)]
        edf = spark.createDataFrame(edges, "src long, dst long")
        seeds = spark.createDataFrame([(0,), (77,)], "id long")  # 77 absent
        got = {
            r.id: r.rank
            for r in pagerank(edf, iters=12, seeds=seeds).collect()
        }
        want = self._model_ppr(edges, {0}, iters=12)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, v
        # proximity decay + island starvation
        assert got[0] > got[1] > got[2] > got[3]
        assert got[8] < 1e-6 and got[9] < 1e-6

    def test_seed_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.graph import pagerank

        edf = spark.createDataFrame([(0, 1)], "src long, dst long")
        with pytest.raises(ValueError, match="float-path only"):
            pagerank(
                edf,
                seeds=spark.createDataFrame([(0,)], "id long"),
                exact_scale=10**9,
            )
        with pytest.raises(ValueError, match="none of the seed ids"):
            pagerank(
                edf, iters=2,
                seeds=spark.createDataFrame([(42,)], "id long"),
            )


class TestBM25RequireAll:
    def test_and_semantics(self, spark):
        from tempo_spark.pipeline.search import BM25Index, bm25_topk

        corpus = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(1, "quick fox")], "query_id long, text string"
        )
        anded = {r.doc_id for r in bm25_topk(
            corpus, queries, k=10, require_all_terms=True
        ).collect()}
        assert anded == {0}  # only doc 0 has both terms
        ored = {r.doc_id for r in bm25_topk(corpus, queries, k=10).collect()}
        assert anded < ored
        idx_and = {r.doc_id for r in BM25Index.build(corpus).topk(
            queries, k=10, require_all_terms=True
        ).collect()}
        assert idx_and == anded


class TestBM25NullQueryId:
    def test_null_query_id_survives_and_semantics(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(None, "quick fox")], "query_id long, text string"
        )
        anded = bm25_topk(
            corpus, queries, k=10, require_all_terms=True
        ).collect()
        assert [r.doc_id for r in anded] == [0]
        assert anded[0].query_id is None


class TestBM25ContribHoist:
    """r13: ``__idf``/``__contrib`` are computed per (doc, term) BEFORE
    the per-query fan-out join (``_with_contrib``), and the index path
    prunes postings via the broadcast qdf join instead of a qterms-first
    join. The PRE-hoist construction (contrib per (query, doc, term) row,
    qterms joined before stats) is embedded verbatim below; outputs must
    match BIT-exactly — ``repr`` of every float — on a whole-document
    query workload (the b31 shape, maximal fan-out)."""

    def _old_rank(self, per_term, id_col, query_id_col, k, k1, b):
        # pre-r13 _bm25_rank, verbatim (OR semantics — the gate shape)
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        scored_terms = per_term.withColumn(
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
        agged = scored_terms.groupBy("__qid", id_col).agg(
            F.sum("__contrib").alias("score"),
            F.count(F.lit(1)).alias("matched"),
            F.sum("tf").alias("tf_sum"),
        )
        score_q = F.floor(F.col("score") * 1_000_000 + F.lit(0.5))
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

    def _old_topk(self, corpus, queries, k=10, k1=1.2, b=0.75):
        # pre-r13 bm25_topk tail, verbatim: per_term fans out through
        # qterms BEFORE stats, contrib computed per fan-out row
        import pyspark.sql.functions as F

        from tempo_spark.pipeline.search import _query_terms
        from tempo_spark.pipeline.text import tokens_col

        toks = F.transform(tokens_col(F.col("text")), F.lower)
        qterms = _query_terms(queries, "query_id", "text", True)
        qvocab = qterms.select("term").distinct()
        tf = (
            corpus.select(F.col("doc_id"), F.explode_outer(toks).alias("term"))
            .where(F.col("term").isNotNull())
            .join(F.broadcast(qvocab), "term")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = (
            tf.where(F.col("tf") > 0)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df_t"))
        )
        dl_df = corpus.select(F.col("doc_id"), F.size(toks).alias("__dl"))
        stats = F.broadcast(
            dl_df.agg(
                F.count(F.lit(1)).alias("__n_docs"),
                F.avg("__dl").alias("__avgdl"),
            )
        )
        matched = F.broadcast(tf.join(F.broadcast(dfreq), "term"))
        per_term = (
            dl_df.join(matched, "doc_id")
            .join(F.broadcast(qterms), "term")
            .crossJoin(stats)
        )
        return self._old_rank(per_term, "doc_id", "query_id", k, k1, b)

    @staticmethod
    def _key(rows):
        return sorted(
            ((r.query_id is None, r.query_id or 0), r.rank, r.doc_id,
             repr(r.score), r.matched, r.tf_sum)
            for r in rows
        )

    def test_adhoc_bit_identical(self, spark):
        from tempo_spark.pipeline.search import bm25_topk

        corpus = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        # whole documents as queries (the b31 worst case), incl. a NULL id
        queries = corpus.where("doc_id < 4").select(
            F.col("doc_id").alias("query_id"), "text"
        ).unionByName(
            spark.createDataFrame(
                [(None, "quick fox bar")], "query_id long, text string"
            )
        )
        new = bm25_topk(corpus, queries, k=10).collect()
        old = self._old_topk(corpus, queries, k=10).collect()
        assert self._key(new) == self._key(old)
        assert len(new) > 0

    def test_index_bit_identical(self, spark):
        from tempo_spark.pipeline.search import BM25Index, bm25_topk

        corpus = spark.createDataFrame(TestBM25._DOCS, "doc_id long, text string")
        queries = corpus.where("doc_id < 4").select(
            F.col("doc_id").alias("query_id"), "text"
        )
        got = BM25Index.build(corpus).topk(queries, k=10).collect()
        want = bm25_topk(corpus, queries, k=10).collect()
        assert self._key(got) == self._key(want)
        assert len(got) > 0


class TestRrfFuse:
    def _lists(self, spark):
        a = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3), (None, 20, 1)],
            "query_id long, doc_id long, rank long",
        )
        b = spark.createDataFrame(
            [(1, 11, 1), (1, 13, 2), (None, 21, 1)],
            "query_id long, doc_id long, rank long",
        )
        return a, b

    def test_rrf_semantics(self, spark):
        from tempo_spark.pipeline.search import rrf_fuse

        a, b = self._lists(spark)
        out = rrf_fuse([a, b], k=10, rrf_k=60)
        got = {
            (r.query_id, r.doc_id): (r.rrf_score, r.n_lists, r.rank)
            for r in out.collect()
        }
        # doc 11 in both lists wins query 1
        s11 = (0.0 + 1.0 / 62) + 1.0 / 61
        assert got[(1, 11)][0] == s11 and got[(1, 11)][1] == 2
        assert got[(1, 11)][2] == 1
        # singles ranked by their reciprocal, doc 10 (rank1 listA) next
        assert got[(1, 10)][2] == 2
        assert got[(1, 13)][2] == 3 and got[(1, 12)][2] == 4
        # NULL query id fuses as its own group (the refine_topk lesson)
        assert got[(None, 20)][2] in (1, 2) and got[(None, 21)][2] in (1, 2)

    def test_weights_and_validations(self, spark):
        import pytest

        from tempo_spark.pipeline.search import rrf_fuse

        a, b = self._lists(spark)
        out = rrf_fuse([a, b], k=1, rrf_k=60, weights=[0.0, 1.0])
        top = {r.query_id: r.doc_id for r in out.collect()}
        # zero weight on list A: list B's rank-1 docs win
        assert top[1] == 11 and top[None] == 21
        with pytest.raises(ValueError, match=">= 2 ranked lists"):
            rrf_fuse([a])
        with pytest.raises(ValueError, match="rrf_k"):
            rrf_fuse([a, b], rrf_k=0)
        with pytest.raises(ValueError, match="weights"):
            rrf_fuse([a, b], weights=[1.0])
        with pytest.raises(ValueError, match="missing column"):
            rrf_fuse([a, b.drop("rank")])

    def test_duplicate_rows_take_min_rank(self, spark):
        from tempo_spark.pipeline.search import rrf_fuse

        a = spark.createDataFrame(
            [(1, 10, 3), (1, 10, 1)], "query_id long, doc_id long, rank long"
        )
        b = spark.createDataFrame(
            [(1, 10, 2)], "query_id long, doc_id long, rank long"
        )
        r = rrf_fuse([a, b], k=5).collect()[0]
        assert r.rrf_score == (0.0 + 1.0 / 61) + 1.0 / 62


class TestSuggestCells:
    def test_sqrt_rule_and_warnings(self):
        import warnings

        import pytest

        from tempo_spark.pipeline.similarity import (
            ASSIGN_ARROW_MIN_OPS,
            MAX_FIT_ROWS,
            suggest_cells,
        )

        assert suggest_cells(1) == 1
        assert suggest_cells(10_000) == 100
        assert suggest_cells(1_000_000_000) == 31623
        with pytest.raises(ValueError, match="n_vectors"):
            suggest_cells(0)
        # small k x dim: silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            suggest_cells(100, dim=16)  # k=10, 160 ops < budget
        # crossing the Arrow budget warns with the constant named
        with pytest.warns(UserWarning, match="ASSIGN_ARROW_MIN_OPS"):
            k = suggest_cells(1_000_000, dim=128)  # k=1000 x 128 ops
        assert k == 1000 and k * 128 > ASSIGN_ARROW_MIN_OPS
        # fit-sample guidance past MAX_FIT_ROWS warns toward fit_sample_mod
        with pytest.warns(UserWarning, match="fit_sample_mod"):
            suggest_cells(10**9)
        assert 256 * suggest_cells(10**9) > MAX_FIT_ROWS


class TestRetrievalMetrics:
    def test_binary_and_graded_against_hand_model(self, spark):
        import math

        import pyspark.sql.functions as F

        from tempo_spark.pipeline.search import (
            NDCG_WEIGHT_SCALE,
            _ndcg_weights,
            retrieval_metrics,
        )

        res = spark.createDataFrame(
            [(1, "a", 1), (1, "x", 2), (1, "y", 3), (1, "b", 4), (1, "z", 5),
             (1, "c", 6),  # past k: ignored
             (2, "p", 1), (3, "m", 1)],
            "query_id long, doc_id string, rank long",
        )
        qrels = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (2, "zz"), (4, "only")],
            "query_id long, doc_id string",
        )
        out = {r.query_id: r for r in retrieval_metrics(res, qrels, k=5).collect()}
        w = _ndcg_weights(5)
        # weights mirror floor(scale / log2(r+1))
        assert w[0] == NDCG_WEIGHT_SCALE
        assert w[1] == int(NDCG_WEIGHT_SCALE // math.log2(3))
        r1 = out[1]
        assert (r1.n_relevant, r1.hits, r1.n_retrieved) == (3, 2, 5)
        assert r1.recall_at_k == 2 / 3 and r1.mrr == 1.0
        assert r1.ndcg_at_k == (w[0] + w[3]) / (w[0] + w[1] + w[2])
        assert out[2].mrr == 0.0 and out[2].ndcg_at_k == 0.0
        assert out[4].n_retrieved == 0 and 3 not in out  # judged-only
        # graded: gain 2^rel - 1; rel=0 judged non-relevant
        qg = spark.createDataFrame(
            [(1, "a", 3), (1, "b", 1), (1, "c", 0)],
            "query_id long, doc_id string, rel int",
        )
        rg = retrieval_metrics(res, qg, k=5, rel_col="rel").collect()[0]
        assert rg.n_relevant == 2
        assert rg.ndcg_at_k == (7 * w[0] + 1 * w[3]) / (7 * w[0] + 1 * w[1])
        # perfect ranking -> ndcg 1.0 exactly
        perfect = spark.createDataFrame(
            [(1, "a", 1), (1, "b", 2)], "query_id long, doc_id string, rank long"
        )
        qp = spark.createDataFrame(
            [(1, "a", 3), (1, "b", 1)], "query_id long, doc_id string, rel int"
        )
        assert retrieval_metrics(perfect, qp, k=5, rel_col="rel").collect()[0].ndcg_at_k == 1.0
        import pytest as _pt

        with _pt.raises(ValueError, match="k must"):
            retrieval_metrics(res, qrels, k=0)
        with _pt.raises(ValueError, match="rel_col"):
            retrieval_metrics(res, qrels, rel_col="nope")
        with _pt.raises(ValueError, match="column"):
            retrieval_metrics(res.drop("rank"), qrels)

    def test_duplicate_results_and_rank_validation(self, spark):
        """r11 review: duplicate (query, doc) result rows keep their BEST
        rank (no qrel fan-out), 0-based ranks raise, rel grades cap."""
        import pytest as _pt

        from tempo_spark.pipeline.search import retrieval_metrics

        res = spark.createDataFrame(
            [(1, "a", 1), (1, "a", 3), (1, "b", 2)],
            "query_id long, doc_id string, rank long",
        )
        qrels = spark.createDataFrame(
            [(1, "a"), (1, "c")], "query_id long, doc_id string"
        )
        r = retrieval_metrics(res, qrels, k=5).collect()[0]
        assert (r.n_relevant, r.hits, r.n_retrieved) == (2, 1, 2)
        assert r.recall_at_k == 0.5 and r.mrr == 1.0
        zero_based = spark.createDataFrame(
            [(1, "a", 0)], "query_id long, doc_id string, rank long"
        )
        with _pt.raises(Exception, match="1-based"):
            retrieval_metrics(zero_based, qrels, k=5).collect()
        qg = spark.createDataFrame(
            [(1, "a", 63)], "query_id long, doc_id string, rel int"
        )
        with _pt.raises(Exception, match="0, 62"):
            retrieval_metrics(res, qg, k=5, rel_col="rel").collect()


class TestPrecisionAndAP:
    def test_precision_and_ap_hand_model(self, spark):
        """r12: precision@k = hits/k; ap_at_k = binary quantized AP with
        the fixed (S/R)/1e12 division order."""
        from tempo_spark.pipeline.search import retrieval_metrics

        res = spark.createDataFrame(
            [(1, "a", 1), (1, "x", 2), (1, "b", 3), (1, "y", 4), (1, "c", 5),
             (2, "p", 1)],
            "query_id long, doc_id string, rank long",
        )
        qrels = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (1, "d"), (2, "zz")],
            "query_id long, doc_id string",
        )
        out = {
            r.query_id: r
            for r in retrieval_metrics(res, qrels, k=5).collect()
        }
        r1 = out[1]
        assert r1.precision_at_k == 3 / 5
        # hits at ranks 1,3,5: P@1=1, P@3=2/3, P@5=3/5; R=4
        S = 1 * (10**12 // 1) + 2 * (10**12 // 3) + 3 * (10**12 // 5)
        assert r1.ap_at_k == (S / 4) / 1e12
        assert out[2].precision_at_k == 0.0 and out[2].ap_at_k == 0.0

    def test_ap_tie_ranks(self, spark):
        """tied ranks: each tied hit takes the full <=-count (no
        position-order dependence)."""
        from tempo_spark.pipeline.search import retrieval_metrics

        res = spark.createDataFrame(
            [(1, "a", 2), (1, "b", 2)],
            "query_id long, doc_id string, rank long",
        )
        qrels = spark.createDataFrame(
            [(1, "a"), (1, "b")], "query_id long, doc_id string"
        )
        r = retrieval_metrics(res, qrels, k=5).collect()[0]
        S = 2 * (10**12 // 2) + 2 * (10**12 // 2)
        assert r.ap_at_k == (S / 2) / 1e12


class TestResumeFingerprintR12Review:
    """r12 review: two resume-digest holes pinned."""

    def test_mixed_file_memory_input_keeps_semantic_hash(self, spark, tmp_path):
        from tempo_spark.pipeline.prepare import _cfg_token

        pq = str(tmp_path / "mix_src")
        spark.range(5).selectExpr("id AS doc_id", "'x' AS text").write.parquet(pq)
        file_only = spark.read.parquet(pq)
        patch = spark.createDataFrame([(99, "patched")], "doc_id long, text string")
        mixed = file_only.union(patch)
        tok_file = _cfg_token(file_only)
        tok_mixed = _cfg_token(mixed)
        import re as _re

        # pure file scan: restart-stable — token ENDS at the file digest
        # (no session-scoped component)
        assert _re.search(r"files:[0-9a-f]{32}$", tok_file)
        # mixed plan: must carry semanticHash ON TOP of the file digest —
        # a LocalRelation prints schema, never data, so the plan digest
        # alone cannot see a data change
        assert _re.search(r"files:[0-9a-f]{32}:-?\d+$", tok_mixed)
        patch2 = spark.createDataFrame([(99, "CHANGED")], "doc_id long, text string")
        # same schema, same plan string shape, different data -> the
        # semanticHash component is the only discriminator we can offer;
        # at minimum the token must NOT be the plain file-only form that
        # would skip the stage silently
        tok_mixed2 = _cfg_token(file_only.union(patch2))
        assert _re.search(r"files:[0-9a-f]{32}:-?\d+$", tok_mixed2)

    def test_wide_projection_tail_expression_changes_token(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from tempo_spark.pipeline.prepare import _cfg_token

        pq = str(tmp_path / "wide_src")
        spark.range(5).selectExpr("id AS doc_id").write.parquet(pq)
        base = spark.read.parquet(pq)
        # 40 computed columns: the default maxToStringFields=25 would
        # elide the tail and the c30 formula change would be invisible
        cols_a = [
            (F.col("doc_id") * (i + 1)).alias(f"c{i}") for i in range(40)
        ]
        cols_b = list(cols_a)
        cols_b[30] = (F.col("doc_id") * 7777).alias("c30")
        tok_a = _cfg_token(base.select("doc_id", *cols_a))
        tok_b = _cfg_token(base.select("doc_id", *cols_b))
        assert tok_a != tok_b
        # and the render restores the conf
        assert spark.conf.get("spark.sql.debug.maxToStringFields") in (
            "25", None,
        )


class TestTextSignalsSqlParity:
    """r12 optimization pins: the one-parse SQL forms of the text signals
    build the same expressions as the per-element Column forms they
    replaced — bit-identical outputs (the quality/token/repetition gate
    oracles replay these formulas, so any drift is a correctness bug)."""

    def test_quality_score_sql_parity(self, spark):
        import struct

        import pyspark.sql.functions as F

        from tempo_spark.pipeline.text import (
            STOPWORDS,
            tokens_col,
            with_quality_score,
        )

        docs = spark.createDataFrame(
            [
                (0, "the quick brown fox, jumps; over the lazy dog!"),
                (1, ""),
                (2, "   "),
                (3, "a" * 500),
                (4, "der die das und nicht ist ein eine mit zu"),
                (5, "x , . ; : ! ? y"),
                (6, None),
            ],
            "doc_id long, text string",
        )
        # the former Column-chain implementation, verbatim
        text = F.col("text")
        toks = tokens_col(text)
        n_toks = F.size(toks)
        n_chars = F.length(text)
        punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
        punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
        sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
        sw_hits = F.size(
            F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))
        )
        sw_ratio = F.when(n_toks > 0, sw_hits / n_toks).otherwise(F.lit(0.0))
        mean_word_len = F.when(n_toks > 0, n_chars / n_toks).otherwise(
            F.lit(0.0)
        )
        length_score = F.least(n_toks / F.lit(100.0), F.lit(1.0))
        punct_score = F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))
        sw_score = F.least(sw_ratio * 4, F.lit(1.0))
        wordlen_score = F.when(
            (mean_word_len >= 3) & (mean_word_len <= 10), F.lit(1.0)
        ).otherwise(F.lit(0.5))
        score = (length_score + punct_score + sw_score + wordlen_score) / 4
        ref = {
            r.doc_id: r.q
            for r in docs.withColumn("q", F.round(score, 6)).collect()
        }
        got = {
            r.doc_id: r.quality_score
            for r in with_quality_score(docs, "text").collect()
        }
        assert set(ref) == set(got)
        for k in ref:
            assert (ref[k] is None) == (got[k] is None)
            if ref[k] is not None:
                assert struct.pack("<d", ref[k]) == struct.pack("<d", got[k])

    def test_repetition_metrics_sql_parity(self, spark):
        import struct

        import pyspark.sql.functions as F

        from tempo_spark.pipeline.text import (
            tokens_col,
            with_repetition_metrics,
        )

        docs = spark.createDataFrame(
            [
                (0, "a b a b a b"),
                (1, "one two three four"),
                (2, "solo"),
                (3, ""),
                (4, None),
                (5, "x x x x x x x x x x"),
            ],
            "doc_id long, text string",
        )
        # the former Column-chain implementation, verbatim (n=2)
        n = 2
        toks_c, grams_c = "__toks_ref", "__grams_ref"

        def gram_at(i):
            return F.concat_ws(" ", F.slice(F.col(toks_c), i, n))

        stepped = docs.withColumn(toks_c, tokens_col(F.col("text")))
        n_toks = F.size(F.col(toks_c))
        grams = F.when(
            n_toks >= n,
            F.transform(F.sequence(F.lit(1), n_toks - (n - 1)), gram_at),
        ).otherwise(F.array().cast("array<string>"))
        stepped = stepped.withColumn(grams_c, grams)
        total = F.size(F.col(grams_c))
        distinct = F.size(F.array_distinct(F.col(grams_c)))
        frac = F.when(total > 0, F.lit(1.0) - distinct / total).otherwise(
            F.lit(0.0)
        )
        hardened = F.floor(frac * 1_000_000 + F.lit(0.5)) / 1_000_000
        ref = {
            r.doc_id: (r.t, r.d, r.f)
            for r in stepped.select(
                "doc_id",
                total.alias("t"),
                distinct.alias("d"),
                hardened.alias("f"),
            ).collect()
        }
        got = {
            r.doc_id: (r.n_2grams, r.n_2grams_distinct, r.dup_2gram_frac)
            for r in with_repetition_metrics(docs, "text", n=2).collect()
        }
        assert set(ref) == set(got)
        for k in ref:
            assert ref[k][:2] == got[k][:2]
            a, b = ref[k][2], got[k][2]
            assert (a is None) == (b is None)
            if a is not None:
                assert struct.pack("<d", a) == struct.pack("<d", b)
