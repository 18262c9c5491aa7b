"""r12 optimization pins: the one-parse SQL literal paths keep their
recorded outputs bit-exact, and the _local_lloyd sorted-segment centroid
update is bit-equal to the boolean-mask form it replaced.

Plan-build latency is the motivation (guide §7.3 / the repo's parsed-SQL
discipline): per-element Column forms cost one py4j round trip per
literal — measured 16×64 centroids ≈ 2,100 round trips ≈ seconds per plan
build — while the SQL form is one parse. The goldens below were recorded
when those Column forms still existed and agreed bit-for-bit with the SQL
paths; any divergence is a correctness bug, not a perf regression.
"""

import hashlib
import random
import struct

import pytest

from tempo_spark.pipeline.similarity import (
    _cell_scores,
    _local_lloyd,
    hyperplane_bucket,
    random_hyperplanes,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = random.Random(7)
    rows = [([rng.uniform(-2, 2) for _ in range(17)],) for _ in range(60)]
    rows.append((None,))  # a null vector NULLs every score
    return spark.createDataFrame(rows, "v array<double>")


class TestSqlLiteralPathGoldens:
    def test_cell_scores_bit_exact(self, vec_df):
        rng = random.Random(3)
        centers = [[rng.uniform(-3, 3) for _ in range(17)] for _ in range(5)]
        # exercise shortest-round-trip formatting on awkward doubles
        centers[0][0] = 1e-17
        centers[1][2] = -123456.789e-3
        centers[2][5] = 2.0 ** -40
        rows = vec_df.select(_cell_scores("v", centers).alias("s")).collect()
        h = hashlib.sha256()
        for r in rows:
            if r.s is None:
                h.update(b"N")
                continue
            for e in r.s:
                # the null vector NULLs every d
                h.update(b"n" if e.d is None else struct.pack("<d", e.d))
                h.update(struct.pack("<i", e.cell))
        assert len(rows) == 61
        assert h.hexdigest() == (
            "912a876fede4a1cae1a7ca8ed063e77817e0153d5de8e79f34d6c7628721f0a8"
        )

    def test_hyperplane_buckets(self, vec_df):
        planes = random_hyperplanes(17, 6, seed=11)
        got = vec_df.select(hyperplane_bucket("v", planes).alias("b")).collect()
        assert [r.b for r in got] == [
            7, 40, 7, 21, 58, 23, 23, 6, 6, 50, 45, 22, 58, 7, 27, 23, 45,
            19, 54, 44, 9, 5, 19, 36, 18, 5, 21, 36, 37, 4, 57, 10, 26, 51,
            21, 2, 42, 18, 44, 4, 6, 56, 9, 46, 45, 24, 38, 37, 41, 19, 56,
            40, 5, 38, 9, 28, 23, 16, 38, 28, 0,
        ]


class TestLloydSortedUpdateParity:
    def test_sorted_segments_equal_masked_update(self):
        # the former implementation's update rule, verbatim
        import collections

        import numpy as np

        def masked_lloyd(vecs, k, seed, max_iter):
            dim = collections.Counter(len(v) for v in vecs).most_common(1)[0][0]
            X = np.asarray([v for v in vecs if len(v) == dim], dtype=np.float64)
            if X.size:
                X = X[np.isfinite(X).all(axis=1)]
            rng = np.random.default_rng(seed)
            first = int(rng.integers(X.shape[0]))
            chosen = [first]
            d2 = ((X - X[first]) ** 2).sum(axis=1)
            for _ in range(1, k):
                total = float(d2.sum())
                if total <= 0.0:
                    remaining = np.setdiff1d(
                        np.arange(X.shape[0]), np.asarray(chosen)
                    )
                    nxt = int(remaining[rng.integers(remaining.shape[0])])
                else:
                    nxt = int(rng.choice(X.shape[0], p=d2 / total))
                chosen.append(nxt)
                d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
            C = X[chosen].copy()
            for _ in range(max_iter):
                scores = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
                labels = scores.argmin(axis=1)
                for j in range(k):
                    members = X[labels == j]
                    if len(members):
                        C[j] = members.mean(axis=0)
            return [list(map(float, c)) for c in C]

        import numpy as np

        rng = np.random.default_rng(5)
        for trial, (n, d, k) in enumerate(
            [(400, 8, 64), (300, 5, 7), (200, 3, 30)]
        ):
            vecs = [list(map(float, r)) for r in rng.normal(size=(n, d))]
            vecs[5] = vecs[6]  # duplicates exercise the stable tie order
            a = _local_lloyd(vecs, k, 42 + trial, 12)
            b = masked_lloyd(vecs, k, 42 + trial, 12)
            assert a == b  # exact float equality, element for element
