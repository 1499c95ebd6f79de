"""Exact integer Gram-cell kernel for the embedding-matrix analytics
(`sim_gram_matrix`, `sim_covariance_matrix`, `sim_power_iteration_pc1`).

The declarative form of G = Σ_x x xᵀ — posexplode + self-equi-join on
vec_id + one combine-friendly aggregate — is scale-correct but pays a
|corpus|·d² join/aggregate through the row pipeline (20.5 M joined rows
at sf0.1, decimal accumulation). This kernel computes the SAME exact
integers per partition with one NumPy int64 matmul per Arrow batch
(guide §4.2: hand whole batches to vectorized native code), accumulates
the per-batch partials in arbitrary-precision Python ints (exact at any
scale), and emits d² (or d(d+1)/2) partial cells per task; a trivial
final hash aggregate over (#tasks × d²) rows reproduces the global sum.

Exactness argument, term by term vs the declarative form:
- quantization: ``np.floor(float64(val) * 1e6)`` — float→double widening,
  double multiply, floor — is the identical IEEE sequence to Spark's
  ``FLOOR(CAST(val AS DOUBLE) * 1000000.0D)``;
- per-batch products/sums: int64, guarded — the kernel raises if
  ``rows_in_batch · max|v6|²`` could reach 2^63 (Arrow batches are
  ≤ spark.sql.execution.arrow.maxRecordsPerBatch rows, so the guard
  never fires for |val| ≤ ~30 at the default 10k batch size);
- cross-batch/cross-partition accumulation: Python ints (object dtype)
  → exact for any corpus size; emitted as DECIMAL(38,0), summed by the
  caller's final aggregate exactly as the declarative partials were.

Rows with a NULL embedding contribute nothing (posexplode parity).
Ragged vectors (mixed dimensionality) are refused — the declarative
form defines a union-of-dims semantics no fixture or caller uses, and
silently mis-shaping a matmul would be worse than failing loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["gram_cells"]


def gram_cells(e: DataFrame, upper_only: bool = True) -> DataFrame:
    """Per-task partial Gram cells of the ``floor(val·1e6)`` int vectors
    in ``e.embedding``.

    Returns (i int, j int, g decimal(38,0)) with 1-based dimension
    indices and ONE partial row per (task, cell); callers finish with
    ``groupBy("i", "j").agg(sum("g"))`` — the same combine-then-reduce
    shape as the declarative aggregate, with the partial combine done
    by NumPy instead of the row pipeline. ``upper_only`` keeps i <= j
    (the symmetric-matrix storage the gram/covariance queries use);
    ``False`` emits all d² cells (the power-iteration loop wants the
    full matrix).
    """

    def _partials(batches):
        import numpy as np
        import pyarrow as pa

        acc = None
        d = None
        for batch in batches:
            col = batch.column(0)
            if col.null_count:
                col = col.drop_null()
            if len(col) == 0:
                continue
            if isinstance(col, pa.ChunkedArray):  # defensive; not expected
                col = col.combine_chunks()
            if col.values.null_count:
                raise ValueError(
                    "gram_cells: NULL vector elements are outside the "
                    "exact-integer contract (the declarative form's "
                    "null-skipping sum has no matmul equivalent)"
                )
            offs = col.offsets.to_numpy()
            lens = np.diff(offs)
            # zero-length vectors contribute nothing (posexplode parity)
            # and occupy zero width in the values buffer, so the nonzero
            # rows stay a contiguous reshapeable span
            lens_nz = lens[lens > 0]
            if len(lens_nz) == 0:
                continue
            if d is None:
                d = int(lens_nz[0])
            if (lens_nz != d).any():
                raise ValueError(
                    f"gram_cells requires uniform vector length; saw "
                    f"lengths {sorted(set(lens_nz.tolist()))[:5]}"
                )
            flat = col.values.to_numpy(zero_copy_only=False)
            # [offs[0]:offs[-1]]: values buffer may cover more than this
            # array's slice
            flat = flat[offs[0] : offs[-1]]
            v6 = np.floor(flat.astype(np.float64) * 1e6).astype(np.int64)
            x = v6.reshape(-1, d)
            mx = int(np.abs(v6).max(initial=0))
            if mx and x.shape[0] * mx * mx >= (1 << 63):
                raise ValueError(
                    "gram_cells int64 envelope exceeded in one Arrow "
                    f"batch (rows={x.shape[0]}, max|v6|={mx}); lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            part = (x.T @ x).astype(object)
            acc = part if acc is None else acc + part
        if acc is None:
            return
        if upper_only:
            iu, ju = np.triu_indices(d)
        else:
            iu, ju = np.indices((d, d)).reshape(2, -1)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array((iu + 1).astype(np.int32), type=pa.int32()),
                pa.array((ju + 1).astype(np.int32), type=pa.int32()),
                pa.array(
                    [int(v) for v in acc[iu, ju]],
                    type=pa.decimal128(38, 0),
                ),
            ],
            names=["i", "j", "g"],
        )

    return e.select("embedding").mapInArrow(
        _partials, schema="i int, j int, g decimal(38,0)"
    )
