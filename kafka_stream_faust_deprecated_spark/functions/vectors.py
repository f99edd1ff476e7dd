"""Vector primitives over ``array<float>`` embeddings (SURVEY.md §2b E24).

The dot product is a JVM-side higher-order function (``zip_with`` +
``aggregate``), not a UDF — it stays inside codegen and costs no Python
round-trip. Elements are cast to double BEFORE multiplying so Spark and
the DuckDB oracle (``embedding::DOUBLE[]``) accumulate identically.

LSH hyperplanes are derived from md5 in plain Python (driver-side, tiny)
and embedded as literals in both the Spark plan and the oracle SQL, so
the approximate index is deterministic and cross-engine checkable.

The BLAS kernels (centroid argmax, PQ encode, LSH buckets, the fused
assign + partial-sums pass) are ``arrow_udf``/``mapInArrow`` functions
over three primitives: ``_matrix`` reads an Arrow vector column as one
(n x dim) float64 matrix, ``_assign`` takes the first-occurrence argmax
of a caller-supplied score per subspace, and ``_cell_sums`` counts and
sums each cell's members. They need a non-null, fixed-length vector
column.

Determinism contract shared by every kernel: only an argmax INDEX or a
sign leaves a BLAS matmul as an emitted value — never a score. BLAS
accumulation order differs from the oracle's sequential
``list_dot_product`` by ~1e-13 relative, which can matter only for two
distinct candidates scoring within reorder error of each other (or a
dot within reorder error of zero for an LSH sign bit). An epsilon would
only move that critical surface, so the plain rule stays and the oracle
hash-match pins it on the platform under test. Callers that emit a
score recompute the winner's score with the sequential JVM dot.
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

#: One subspace's score: (n x subdim) rows -> (n x cells) scores.
Score = Callable[[np.ndarray], np.ndarray]

#: Output schema of ``partial_sums``.
PARTIAL_SUMS_SCHEMA = "j int, cell int, n long, sums array<double>"


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double-precision dot product of two arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def lsh_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1)^dim.

    Component (p, d) comes from the first 4 hex chars of
    ``md5(f"{p}_{d}")``, rounded to 4 decimals so the exact same literal
    appears in the Spark plan and the oracle SQL — reproducible
    anywhere, no RNG state.
    """
    planes: list[list[float]] = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:4], 16)
            row.append(round(h / 32768.0 - 1.0, 4))
        planes.append(row)
    return planes


def _matrix(arr: pa.Array) -> np.ndarray:
    """The rows of a ``list<float|double>`` array as one contiguous
    (n x dim) float64 matrix. ``flatten()`` honours a sliced array's
    offset, which ``.values`` does not. Raises ``ValueError`` on a null
    row or element and on rows of unequal length."""
    n = len(arr)
    flat = arr.flatten()
    if arr.null_count or flat.null_count:
        raise ValueError("vector column has null rows or elements")
    lengths = arr.value_lengths().to_numpy()
    dim = int(lengths[0]) if n else 0
    if (lengths != dim).any():
        raise ValueError(f"ragged vector rows: lengths {lengths.min()}..{lengths.max()}")
    return flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)


def _rows(mat: np.ndarray) -> pa.ListArray:
    """A 2-D array as an Arrow list array, one list per row."""
    n, width = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * width)
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))


def _assign(x: np.ndarray, scoring: list[Score]):
    """Yield ``(j, subvectors, cells)`` per subspace j: the matrix is cut
    into ``len(scoring)`` equal column blocks and each row goes to its
    block's max-score cell. Ties break to the FIRST (lowest) cell
    (``np.argmax``), matching the oracles' ``ORDER BY score DESC, id``."""
    sub = x.shape[1] // len(scoring)
    for j, score in enumerate(scoring):
        s = x[:, j * sub : (j + 1) * sub]
        yield j, s, np.argmax(score(s), axis=1)


def _cell_sums(s: np.ndarray, cells: np.ndarray):
    """``(cell, n, sums)`` of the non-empty cells: member count and
    element-wise member sum, in ascending cell order."""
    counts = np.bincount(cells)
    sums = np.zeros((len(counts), s.shape[1]), dtype=np.float64)
    np.add.at(sums, cells, s)
    hot = np.flatnonzero(counts)
    return hot, counts[hot], sums[hot]


def cosine_scoring(centroids: list[list[float]], norms: list[float]) -> list[Score]:
    """Nearest-centroid scoring over the whole vector: ``(X @ C) / ||c||``.
    The per-row norm is not applied — a positive per-row scale never
    changes the argmax."""
    mat_c = np.array(centroids, dtype=np.float64).T  # dim x k
    inv_norms = 1.0 / np.array(norms, dtype=np.float64)  # k
    return [lambda x: (x @ mat_c) * inv_norms]


def pq_scoring(codebooks: list[list[list[float]]], norms2: list[list[float]]) -> list[Score]:
    """Product-quantization scoring, one subspace per codebook: the
    nearest codeword by squared L2 via ``S @ B - 0.5*||c||^2`` (the
    per-row ``||s||^2`` term is constant across codewords). ``norms2``
    holds the SAME Python-sequential ``||c||^2`` literals the oracle
    embeds, so scores differ from the oracle's only by dot reorder
    noise."""
    mats = [np.array(cb, dtype=np.float64).T for cb in codebooks]  # subdim x k
    half_n2 = [0.5 * np.array(n2, dtype=np.float64) for n2 in norms2]
    return [lambda s, b=b, h=h: s @ b - h for b, h in zip(mats, half_n2)]


def _vector_udf(return_type: str, kernel: Callable[[np.ndarray], pa.Array]):
    """A scalar ``arrow_udf`` applying ``kernel`` to the matrix of its
    vector column. An empty batch maps to an empty null array, which
    Spark casts to ``return_type``."""

    @arrow_udf(return_type)
    def udf(v: pa.Array) -> pa.Array:
        return kernel(_matrix(v)) if len(v) else pa.nulls(0)

    return udf


def centroid_argmax(centroids: list[list[float]], norms: list[float]):
    """``int`` UDF: the 0-based position in ``centroids`` of each
    vector's max-cosine centroid — one (batch x dim) @ (dim x k) matmul
    per Arrow batch instead of k interpreted ``zip_with`` dots per row.
    The hot kernel of IVF cell assignment, k-means and SemDeDup."""
    scoring = cosine_scoring(centroids, norms)

    def cells(x: np.ndarray) -> pa.Array:
        ((_, _, cell),) = _assign(x, scoring)
        return pa.array(cell.astype(np.int32))

    return _vector_udf("int", cells)


def pq_encode(codebooks: list[list[list[float]]], norms2: list[list[float]]):
    """``array<int>`` UDF: per vector, the m nearest-codeword indices
    (one per subspace) under ``pq_scoring``."""
    scoring = pq_scoring(codebooks, norms2)

    def codes(x: np.ndarray) -> pa.Array:
        out = np.empty((len(x), len(scoring)), dtype=np.int32)
        for j, _, cells in _assign(x, scoring):
            out[:, j] = cells
        return _rows(out)

    return _vector_udf("array<int>", codes)


def partial_sums(scoring: list[Score]):
    """``mapInArrow`` function (schema ``PARTIAL_SUMS_SCHEMA``) fusing
    assignment with the mean update's partial sums: per Arrow batch of a
    one-column vector relation, one ``(j, cell, n, sums)`` row per
    non-empty (subspace, cell), ``sums`` the element-wise sum of the
    members' subvectors. k-means passes ``cosine_scoring`` (j = 0), the
    PQ codebook update ``pq_scoring``. Callers reduce with a
    (j, cell, pos) aggregate and ``round(sum/n, d)``.

    The sums DO leave this function: their per-batch ``np.add.at``
    order differs from a JVM hash aggregate by ~1e-15 relative, which
    the caller's rounding absorbs — the same contract that absorbs the
    Spark-vs-DuckDB summation order (the residual risk is the half-step
    boundary class every rounded float aggregate in the engine shares)."""

    def fn(batches):
        for b in batches:
            if not b.num_rows:
                continue
            out = {"j": [], "cell": [], "n": [], "sums": []}
            for j, s, cells in _assign(_matrix(b.column(0)), scoring):
                hot, n, sums = _cell_sums(s, cells)
                out["j"].append(np.full(len(hot), j, dtype=np.int32))
                out["cell"].append(hot.astype(np.int32))
                out["n"].append(n.astype(np.int64))
                out["sums"].append(sums)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out[c])) for c in ("j", "cell", "n")]
                + [_rows(np.concatenate(out["sums"]))],
                names=["j", "cell", "n", "sums"],
            )

    return fn


def lsh_buckets(
    n_tables: int, bits_per_table: int, dim: int, bits_stride: int | None = None
):
    """``array<string>`` UDF: the ``n_tables`` sign-bit bucket strings
    of each vector, from ONE (batch x dim) @ (dim x planes) matmul per
    Arrow batch. Only the SIGN of each dot is consumed (|dot| is O(1)
    on this corpus, reorder error ~1e-13); a flipped bit would only
    perturb candidate recall, never a verified pair.

    ``bits_stride`` decouples the plane LAYOUT from the bucket WIDTH:
    table t owns global plane indices [t*stride, (t+1)*stride) and its
    bucket string uses the first ``bits_per_table`` of them. With
    stride > bits, a corpus-size-derived bucket width keeps each table's
    planes a stable prefix — widening the bucket refines existing
    buckets instead of reshuffling every table's hyperplane set, and a
    static oracle can truncate a stride-wide bucket string to the same
    width.
    """
    stride = bits_per_table if bits_stride is None else bits_stride
    if stride < bits_per_table:
        raise ValueError(f"bits_stride {stride} < bits_per_table {bits_per_table}")
    all_planes = lsh_hyperplanes(n_tables * stride, dim)
    used = [
        all_planes[t * stride + j]
        for t in range(n_tables)
        for j in range(bits_per_table)
    ]
    planes = np.array(used, dtype=np.float64).T  # dim x (tables*bits)

    def buckets(x: np.ndarray) -> pa.Array:
        chars = np.where((x @ planes) > 0, b"1", b"0")  # batch x (tables*bits)
        words = chars.view(f"S{bits_per_table}")  # batch x tables
        return _rows(words).cast(pa.list_(pa.string()))

    return _vector_udf("array<string>", buckets)
