"""operators/blas.py: the one home of the dense-vector kernels. Each
helper equals, bit for bit, the inline expression the operators used
to carry, and no other operator module writes its own copy. No Spark
session: the kernels are plain numpy."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from osarchiver_spark.functions.vectors import _pseudo_coeff
from osarchiver_spark.operators import blas

rng = np.random.default_rng(7)
M = rng.standard_normal((9, 16))
M[3] = 0.0  # a zero vector must score cosine 0, not NaN
N = rng.standard_normal((5, 16))
N[0] = 0.0


def _bits_equal(a: np.ndarray, b: np.ndarray) -> bool:
    return a.dtype == b.dtype and a.shape == b.shape and a.tobytes() == b.tobytes()


def _norms(X):
    n = np.sqrt((X * X).sum(axis=1))
    return np.where(n > 0, n, np.inf)


def test_vec_matrix_decodes_series_and_collected_lists():
    series = pd.Series(list(M))
    assert _bits_equal(blas.vec_matrix(series), np.stack(series.to_numpy()))
    rows = [list(map(float, r)) for r in M]
    assert _bits_equal(blas.vec_matrix(rows), np.array(rows, dtype="float64"))
    ints = pd.Series([np.arange(4, dtype="int32"), np.ones(4, dtype="int32")])
    assert blas.vec_matrix(ints).dtype == np.float64


def test_cosine_helpers_match_the_inline_expressions():
    nm, nn = blas.safe_norms(M), blas.safe_norms(N)
    assert _bits_equal(nm, _norms(M)) and nm[3] == np.inf
    assert _bits_equal(
        blas.cosine_matrix(M, N, nm, nn), np.round((M @ N.T) / np.outer(nm, nn), 6)
    )
    A, B = M[:5], N
    assert _bits_equal(
        blas.row_cosine(A, B),
        np.round((A * B).sum(axis=1) / (_norms(A) * _norms(B)), 6),
    )


def test_zero_vectors_score_cosine_zero():
    nm, nn = blas.safe_norms(M), blas.safe_norms(N)
    C = blas.cosine_matrix(M, N, nm, nn)
    assert not np.isnan(C).any()
    assert (C[3] == 0).all() and (C[:, 0] == 0).all()
    assert blas.row_cosine(M[3:4], N[1:2])[0] == 0
    assert blas.row_cosine(M[1:2], N[0:1])[0] == 0


def test_local_topk_matches_the_inline_selector():
    S = blas.cosine_matrix(M, M, blas.safe_norms(M), blas.safe_norms(M))
    S[0, 5] = S[0, 6]  # a tie, broken by the smaller id
    qids = np.arange(100, 109, dtype=object)
    nids = np.arange(100, 109, dtype=object)
    for take in (1, 4, 20):
        got = blas.local_topk(qids, nids, S, take)
        n_take = min(take, S.shape[1])
        order = np.lexsort((np.broadcast_to(nids, S.shape), -S), axis=1)[:, :n_take]
        rows_q = np.repeat(qids, n_take)
        rows_n = nids[order].reshape(-1)
        rows_s = np.take_along_axis(S, order, axis=1).reshape(-1)
        keep = rows_q != rows_n
        assert list(got.columns) == ["query_id", "neighbor_id", "cosine"]
        assert list(got["query_id"]) == list(rows_q[keep])
        assert list(got["neighbor_id"]) == list(rows_n[keep])
        assert _bits_equal(got["cosine"].to_numpy(), rows_s[keep])
        assert not (got["query_id"] == got["neighbor_id"]).any()


def test_nearest_centroid_kernel_matches_the_inline_table():
    C = rng.standard_normal((6, 16))
    D = blas.centroid_dists(M, C)
    assert _bits_equal(D, -2.0 * (M @ C.T) + (C * C).sum(axis=1))
    assert _bits_equal(blas.nearest_codes(M, [C])[:, 0], D.argmin(axis=1))

    # m > 1: column j is the argmin over the j-th equal column slice
    books = [rng.standard_normal((5, 4)) for _ in range(4)]
    codes = blas.nearest_codes(M, books)
    assert codes.shape == (len(M), 4) and codes.dtype.kind == "i"
    for j, B in enumerate(books):
        Vj = M[:, j * 4 : (j + 1) * 4]
        assert _bits_equal(codes[:, j], (-2.0 * (Vj @ B.T) + (B * B).sum(axis=1)).argmin(axis=1))

    # ties go to the lowest id: centroid 4 duplicates centroid 1, and
    # a vector sitting on either is assigned to 1
    T_ = np.vstack([C[:4], C[1:2]])
    assert (blas.nearest_codes(C[1:2], [T_]) == 1).all()
    assert (blas.nearest_codes(np.hstack([C[1:2], C[1:2]]), [T_, T_]) == 1).all()


def test_hyperplane_keys_match_the_inline_projection():
    seed, L, b, dim = "emb", 3, 4, 16
    planes = blas.hyperplanes(seed, L, b, dim)
    expected = np.array(
        [[_pseudo_coeff(f"{seed}{l}", k, i) for i in range(dim)] for l in range(L) for k in range(b)]
    )
    assert _bits_equal(planes, expected)
    signs = (M @ expected.T) >= 0
    keys = signs.reshape(len(M), L, b) @ (1 << np.arange(b)).astype("int64")
    got = blas.bucket_keys(M, planes, b)
    assert _bits_equal(got, keys) and got.shape == (len(M), L)
    assert (got >= 0).all() and (got < 1 << b).all()


def test_pair_frames_agree_with_their_schema():
    schema = blas.pair_schema(T.StringType(), "vec_a", "vec_b", "adc")
    assert [f.name for f in schema.fields] == ["vec_a", "vec_b", "adc"]
    assert [f.dataType for f in schema.fields] == [T.StringType(), T.StringType(), T.DoubleType()]
    empty = blas.empty_pairs("vec_a", "vec_b", "adc")
    assert list(empty.columns) == ["vec_a", "vec_b", "adc"] and len(empty) == 0
    assert empty["adc"].dtype == np.float64


def test_vector_kernels_live_in_blas_only():
    """No operator module but blas.py carries its own vector decode,
    zero-safe norm, pair gram, hyperplane build, top-k selector or
    centroid distance table."""
    forms = [
        "np.inf)",
        "np.triu_indices",
        "_pseudo_coeff(f",
        "np.lexsort((np.broadcast_to(nids, S.shape), -S)",
        "-2.0 * (",
        "(C * C).sum(axis=1)",
        "np.stack(pdf[",
    ]
    pattern = re.compile("|".join(map(re.escape, forms)))
    home = Path(blas.__file__)
    assert all(f in home.read_text() for f in forms[:-1])  # the scan sees the kernels
    offenders = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(home.parent.glob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders
