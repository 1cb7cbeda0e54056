"""Vector math over ``array<float>`` embedding columns — pure built-in
expressions (JVM, codegen), no UDFs.

Accumulation is float64 left-to-right (``aggregate`` over
element-cast-to-double), the same sequential order DuckDB's list
functions use — keeping similarity values bitwise comparable for the
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.functions.text import _col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate.

    Higher-order-function lambdas run outside whole-stage codegen
    (interpreted per element, with a per-row intermediate array). When
    the array length is statically known and small, use
    :func:`dot_product_fixed` / :func:`sq_l2_fixed`: bit-identical on
    inputs of length exactly ``n`` (same left-to-right float64 fold
    from the same 0.0 seed; a NULL element, or only ONE side short,
    yields NULL in both forms). They diverge when BOTH sides have
    length m < n (zip_with returns the finite m-term sum, the fixed
    form NULL) and when either side is longer than ``n`` (the fixed
    form sums only the first n terms). The unroll pays off only for
    small ``n``: it won 2.4× on the PQ assign stage (dsub=2), while a
    64-term cosine unroll measured 3–4× slower than this form."""
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_product_fixed(a: Column | str, b: Column | str, n: int) -> Column:
    """Σ_{i<n} aᵢ·bᵢ unrolled to ``F.get`` products — whole-stage
    codegen (no HOF lambda, no intermediate array). Bit-identical to
    :func:`dot_product` on length-``n`` inputs: float64 products
    accumulated left-to-right from the same ``0.0`` seed; a missing /
    NULL element yields NULL exactly like the zip_with form."""
    av, bv = _col(a), _col(b)
    acc = F.lit(0.0)
    for i in range(n):
        acc = acc + F.get(av, i).cast("double") * F.get(bv, i).cast(
            "double"
        )
    return acc


def sq_l2_fixed(a: Column | str, b: Column | str, n: int) -> Column:
    """Σ_{i<n} (aᵢ−bᵢ)² unrolled to ``F.get`` arithmetic — the
    codegen form of the PQ assign distance (see
    :func:`dot_product_fixed` for the equivalence argument)."""
    av, bv = _col(a), _col(b)
    acc = F.lit(0.0)
    for i in range(n):
        d = F.get(av, i).cast("double") - F.get(bv, i).cast("double")
        acc = acc + d * d
    return acc


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b); 0.0 when either vector is all-zero (defined, not NaN).

    Three :func:`dot_product` folds feed one ``when(denom > 0)``
    guard. A NULL vector or NULL element makes ``denom`` or the dot
    NULL: a NULL ``denom`` falls through to 0.0, a NULL dot over a
    finite ``denom`` (one side shorter than the other) stays NULL."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom).otherwise(F.lit(0.0))


def l2_normalize(a: Column | str) -> Column:
    """x / ‖x‖ elementwise (double); all-zero vectors pass through
    unscaled (division guard) rather than producing NaNs."""
    v = _col(a)
    n = l2_norm(v)
    return F.when(
        n > 0, F.transform(v, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(v, lambda x: x.cast("double")))


def quantize_int8(a: Column | str, scale: Column | None = None) -> Column:
    """Symmetric int8 quantization: round(x·127/max|x|) per element.

    Rounding is ``floor(y + 0.5)`` — round-half-up for either sign,
    chosen because both Spark and DuckDB evaluate it bit-identically
    (native ``round`` functions disagree on ties across engines).
    Returns array<int> in [-127, 127]; the companion scale factor is
    :func:`quantize_scale` (store both — dequantize is x·max|x|/127).
    """
    v = _col(a)
    s = scale if scale is not None else quantize_scale(v)
    return F.transform(
        v,
        lambda x: F.floor(x.cast("double") * s + F.lit(0.5)).cast("int"),
    )


def quantize_scale(a: Column | str) -> Column:
    """127 / max|x| (0-safe): the per-vector quantization factor."""
    v = _col(a)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    return F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# Arrow-batch (mapInArrow) vector path
# --------------------------------------------------------------------------


def arrow_vector_stats(
    df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Per-vector (dim, integer checksum) via ``mapInArrow`` — the
    zero-copy batch path for numeric kernels that outgrow Column
    expressions (the real users are BLAS/FAISS-style libraries that
    want a contiguous float buffer, not per-row Python objects).

    ``mapInArrow`` hands each task an iterator of ``pyarrow.
    RecordBatch`` — list<float> arrives as one contiguous values
    buffer + offsets, which numpy views without copying. Contrast
    operators/multimodal.py's ``mapInPandas`` (pandas conversion per
    batch) and the row-at-a-time UDFs this repo bans.

    The kernel is deliberately integer-exact so it cross-checks
    against a DuckDB oracle bit-for-bit: checksum =
    Σ floor(xᵢ·1000 + 0.5) over float64-upcast elements (float32→
    float64 is exact; one multiply and the floor are exactly rounded;
    integer summation is order-free). Returns (id_col, dim INT,
    checksum BIGINT).

    NULL vectors yield NULL dim/checksum (propagated from the Arrow
    list validity bitmap) — distinct from an EMPTY vector's (0, 0).
    SQL ``len``/``list_sum`` of NULL is NULL, so the distinction is
    what a cross-engine oracle expects (review finding: null entries
    share offsets with empties and were silently conflated).
    """
    import pyarrow as pa

    def _stats(batches):
        import numpy as np

        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            vecs = b.column(b.schema.get_field_index(vec_col))
            # ListArray → flat float32 values + offsets, zero-copy.
            flat = vecs.values.to_numpy(zero_copy_only=False)
            offs = vecs.offsets.to_numpy(zero_copy_only=False)
            q = np.floor(
                flat.astype(np.float64) * 1000.0 + 0.5
            ).astype(np.int64)
            dims = np.diff(offs).astype(np.int32)
            idx = offs[:-1]
            csum = np.zeros(len(idx), dtype=np.int64)
            if len(q):
                # reduceat requires every index < len(q); BATCH-FINAL
                # empty vectors put len(q) into idx. Run reduceat over
                # the valid prefix only (the last valid segment
                # correctly runs to the end of q) and scatter back —
                # clamping instead would silently truncate the segment
                # before a trailing empty vector. Mid-batch empties
                # (duplicate indices) hit reduceat's q[idx[i]] quirk
                # and are zeroed by the dims==0 mask.
                valid = idx < len(q)
                csum[valid] = np.add.reduceat(q, idx[valid])
            csum = np.where(dims == 0, 0, csum)
            # List-validity → output nulls: a NULL vector must not
            # masquerade as an empty one (dims==0 with valid bit set).
            null_mask = ~np.asarray(
                vecs.is_valid(), dtype=bool
            ) if vecs.null_count else None
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(dims, pa.int32(), mask=null_mask),
                 pa.array(csum, pa.int64(), mask=null_mask)],
                [id_col, "dim", "checksum"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        _stats, schema=f"{id_col} long, dim int, checksum long"
    )
