"""Vector math: JVM column expressions, and numpy kernels over Arrow batches.

The reference computes cosine similarity with numpy inside per-document
Python loops (xlink.py:318-336). Two forms live here:

* Column expressions (``dot``, ``norm``, ``cosine``): a sequential
  ``F.zip_with`` + ``F.aggregate`` fold that stays JVM-side. They serve the
  per-candidate cosines whose vectors are already on the candidate row
  (the entity-context pool, the no-prob pass), and ``cosine`` is the
  reference the numpy kernels are tested against.
* numpy kernels (``collect_vectors``, ``unit_rows``, ``pool_unit``,
  ``list_matrix``) for the word-context vectors, run once per Arrow batch
  by ``operators.scoring``. The rule they serve: vectors cross between the
  JVM and Python once per MENTION, plus one broadcast per vector table,
  never once per candidate. On the 4-core flagship benchmark, moving this
  work off its JVM form (64 per-dimension SUMs per mention, then one
  interpreted ``zip_with`` dot per candidate) cut the median call from
  23.4 to 17.9 s (10 interleaved pairs, every pair faster); a prototype
  that carried one vector per candidate across instead lost task CPU in
  3 of 4 runs.

The kernels sum in a different order than the sequential column fold, so
results agree with ``cosine`` to the last few ulps, not bit for bit.
Equal inputs always give bit-equal outputs: the row-wise ``einsum`` runs
the same arithmetic on every row, which the top-1 tie-break on
``entity_id`` relies on (a BLAS ``@`` may pick kernels per block).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise dot product of two array<numeric> columns (JVM-side)."""
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm.

    Matches xlink.py:326/336 (`matmul/(norm*norm)`) with an explicit
    zero-norm guard the reference leaves to numpy warnings.
    """
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def infer_dim(df, vec_col: str = "vec") -> int | None:
    """Vector dimension from the first row (None on empty input)."""
    row = df.select(F.size(_col(vec_col)).alias("d")).first()
    return row["d"] if row else None


def collect_vectors(df):
    """(keys, matrix) of a (key, vec) table, collected once by ``toArrow``.

    ``keys`` is a pyarrow string array (the value set for
    ``pyarrow.compute.index_in``), ``matrix`` the float64 rows in key
    order. Rows with a null vector are left out. Keys are expected to be
    unique: a lookup finds the first row of a repeated key. Raises
    ValueError when the vectors do not share one dimension.
    """
    t = df.select("key", "vec").where(F.col("vec").isNotNull()).toArrow()
    keys = t.column(0).combine_chunks()
    flat = t.column(1).combine_chunks().flatten().to_numpy(zero_copy_only=False)
    n = len(keys)
    dim = len(flat) // n if n else 0
    if len(flat) != n * dim:
        raise ValueError("vectors do not share one dimension")
    return keys, flat.astype(np.float64).reshape(n, dim)


def unit_rows(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unit rows, nonzero mask); zero-norm rows stay all-zero."""
    nrm = np.sqrt(np.einsum("ij,ij->i", m, m))
    ok = nrm > 0
    out = np.zeros_like(m)
    out[ok] = m[ok] / nrm[ok, None]
    return out, ok


def list_matrix(a: pa.ListArray, dim: int) -> np.ndarray:
    """rows × dim float64 matrix of a list<double> column; null rows read
    as zeros."""
    m = np.zeros((len(a), dim))
    m[a.is_valid().to_numpy(zero_copy_only=False)] = (
        a.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
    )
    return m


def pool_unit(words: pa.ListArray, keys: pa.Array, mat: np.ndarray) -> pa.ListArray:
    """Unit-normalized sum of the in-vocabulary word vectors of each row.

    ``words``: one list of tokens per row; ``keys``/``mat`` from
    ``collect_vectors``. A row with no in-vocabulary word, or whose vectors
    sum to zero, gets null. Vectors are added in word order
    (``np.add.reduceat``); the mean's 1/n cancels in the normalization.
    """
    n = len(words)
    idx = pc.index_in(words.flatten(), value_set=keys)
    lens = pc.fill_null(pc.list_value_length(words), 0).to_numpy()
    row = np.repeat(np.arange(n), lens)[idx.is_valid().to_numpy(zero_copy_only=False)]
    sums = np.zeros((n, mat.shape[1]))
    if len(row):
        starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
        sums[row[starts]] = np.add.reduceat(mat[idx.drop_null().to_numpy()], starts, axis=0)
    unit, ok = unit_rows(sums)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(ok * mat.shape[1], out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(unit[ok].ravel()), mask=pa.array(~ok)
    )

