"""Vectorized token-array kernels (SURVEY.md §2.2 C8, BASELINE.json:6/15).

Rule of the house: token arrays NEVER touch per-row Python.  Preference
order: (1) Spark built-ins / higher-order functions (pure JVM, whole-stage
codegen), (2) Arrow-batched pandas UDFs.  Every pandas kernel pins int32 on
both sides of the Arrow hop — pandas loves silently upcasting list elements
to int64/object, which would break the bit-for-bit token-array invariant
(SURVEY.md §7 hard part #4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T
from pyspark.sql.functions import pandas_udf

TOKENS_TYPE = T.ArrayType(T.IntegerType(), containsNull=True)


# --------------------------------------------------------------------- #
# JVM-side kernels (no Python at all) — the defaults
# --------------------------------------------------------------------- #
def n_tok_expr(tokens: str | Column = "tokens") -> Column:
    """size(tokens) as int32; the n_tok invariant column."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(c.isNull(), F.lit(None).cast("int")).otherwise(F.size(c).cast("int"))


def n_tok_sql(tokens: str) -> str:
    """``n_tok_expr`` as a SQL expression over the SQL expression
    ``tokens`` (for plans built with ``selectExpr``)."""
    return f"CASE WHEN ({tokens}) IS NULL THEN NULL ELSE CAST(size({tokens}) AS INT) END"


def tokens_valid_expr(tokens: str = "tokens", vocab_size: int = 50257) -> Column:
    """True iff every token id is in [0, vocab).  Higher-order ``forall``
    runs JVM-side inside codegen — no UDF."""
    c = F.col(tokens)
    return F.when(c.isNull(), F.lit(True)).otherwise(
        F.forall(c, lambda t: (t >= 0) & (t < F.lit(vocab_size)))
    )


def token_sum_expr(tokens: str = "tokens") -> Column:
    """Checksum of a token array via higher-order aggregate (JVM-side)."""
    return F.aggregate(
        F.col(tokens), F.lit(0).cast("long"), lambda acc, t: acc + t.cast("long")
    )


def validate_tokens_arrow(df, vocab_size: int = 50257, tokens_col: str = "tokens"):
    """C8 ingest kernel (BASELINE.json:6 'all token-array handling done
    through vectorized Arrow/pandas UDFs'): per Arrow batch, bounds-check
    token ids against the vocab and pin the element type to int32 —
    zero-copy pyarrow compute, no per-row Python, runs in Python workers
    that scale with cores independently of JVM heap pressure.

    Invalid ids (outside [0, vocab)) are clamped via modulo — the
    deterministic repair a training-data ingest applies rather than
    dropping the sequence.  Valid batches pass through untouched
    (fast path: one min/max reduction per batch).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = df.schema

    def _validate(batches):
        for b in batches:
            idx = b.schema.get_field_index(tokens_col)
            col = b.column(idx)
            flat = pc.list_flatten(col)
            if len(flat):
                if flat.type != pa.int32():
                    flat = pc.cast(flat, pa.int32())
                mm = pc.min_max(flat)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is not None and (lo < 0 or hi >= vocab_size):
                    # pyarrow.compute has no modulo kernel; numpy over the
                    # flat values is equally vectorized (one array op)
                    vals = flat.to_numpy(zero_copy_only=False)
                    fixed = pa.array(
                        np.mod(vals.astype(np.int64), vocab_size).astype(np.int32),
                        type=pa.int32(),
                    )
                    combined = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
                    col = pa.ListArray.from_arrays(
                        combined.offsets, fixed, mask=combined.is_null()
                    )
                    b = b.set_column(idx, b.schema.field(idx), col)
            yield b

    return df.mapInArrow(_validate, schema)


# --------------------------------------------------------------------- #
# Arrow-batched pandas kernels — only where built-ins can't express it
# --------------------------------------------------------------------- #
@pandas_udf(T.LongType())
def token_fingerprint(tokens: pd.Series) -> pd.Series:
    """Order-sensitive 64-bit fingerprint of a token array, fully
    vectorized: each (position, token) pair goes through a murmur-style
    finalizer, then XOR-folds (position is baked in, so order matters).
    Used for cheap cross-run equality probes."""
    C1 = np.uint64(0x9E3779B97F4A7C15)
    C2 = np.uint64(0xC2B2AE3D27D4EB4F)
    C3 = np.uint64(0xFF51AFD7ED558CCD)

    def _fp(arr):
        if arr is None:
            return None
        a = np.asarray(arr, dtype=np.uint64)
        idx = np.arange(len(a), dtype=np.uint64)
        x = a * C1 + idx * C2          # uint64 wrap-around is intentional
        x ^= x >> np.uint64(33)
        x *= C3
        x ^= x >> np.uint64(33)
        h = np.bitwise_xor.reduce(x, initial=np.uint64(len(a)) * C1)
        return np.int64(h.astype(np.uint64).view(np.int64) if hasattr(h, "view") else h)

    with np.errstate(over="ignore"):
        return tokens.map(_fp).astype("Int64")
