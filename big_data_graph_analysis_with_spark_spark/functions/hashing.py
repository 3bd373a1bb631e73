"""Cross-engine deterministic hashing.

Dedup operators (MinHash, SimHash, fingerprinting) need hash functions
that the DuckDB oracle can reproduce bit-for-bit. Spark's xxhash64 and
DuckDB's hash() are different algorithms, so we standardize on MD5 —
identical in both engines — truncated to 56 bits (14 hex chars, fits a
BIGINT exactly, no sign issues):

* Spark:  ``conv(substring(md5(x), 1, 14), 16, 10)`` cast to long
* DuckDB: ``('0x' || substr(md5(x), 1, 14))::BIGINT``

Seeded families (MinHash needs H independent functions) prepend the
seed: ``md5(seed || ':' || x)``.

MD5 is ~3× slower than xxhash64 but runs JVM-side inside whole-stage
codegen — still orders of magnitude faster than any Python UDF. At
production scale, swap `HASH56_SPARK` for xxhash64 (one line) once an
external oracle is no longer needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 56


def hash56(col: Column | str, seed: int | None = None) -> Column:
    """56-bit MD5-based hash of a string column (seeded variant
    prepends ``{seed}:``)."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 14), 16, 10).cast("long")


def hash56_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB SQL equivalent of :func:`hash56` over `expr`."""
    if seed is not None:
        expr = f"'{seed}:' || ({expr})"
    return f"(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 14))::BIGINT)"


def srp_weight_int(table: int, plane: int, dim: int) -> int:
    """Integer hyperplane weight for sign-random-projection LSH,
    in [-1_000_000, 1_000_000]: the 56-bit MD5 hash of "t:p:j" reduced
    mod 2_000_001 and centered. The *float* hyperplane component used by
    the BLAS ANN path (similarity._plane_matrix) is this / 1e6; keeping
    the integer form lets the dedup path (and its DuckDB oracle) compute
    projection SIGNS in exact decimal arithmetic — sign(Σ x·iw) ==
    sign(Σ x·w) since 1e6 > 0 — so bucket assignment is bit-identical
    across engines, which float matmuls cannot guarantee."""
    import hashlib

    h = int(hashlib.md5(f"{table}:{plane}:{dim}".encode()).hexdigest()[:14], 16)
    return h % 2_000_001 - 1_000_000


def srp_weight_sql(t_expr: str, p_expr: str, j_expr: str) -> str:
    """DuckDB SQL equivalent of :func:`srp_weight_int`."""
    md5_arg = (
        f"CAST(({t_expr}) AS VARCHAR) || ':' || CAST(({p_expr}) AS VARCHAR)"
        f" || ':' || CAST(({j_expr}) AS VARCHAR)"
    )
    return f"((('0x' || substr(md5({md5_arg}), 1, 14))::BIGINT % 2000001) - 1000000)"


def bit_of(col: Column, k: int) -> Column:
    """Bit k (0-based, LSB) of a long column — for SimHash planes."""
    return F.shiftright(col, k).bitwiseAND(F.lit(1))
