"""Z-order (Morton) interleaving keys for data-layout clustering.

Sorting or range-partitioning a 100 TB table by the Morton interleave of
two key columns gives every contiguous file span a bounded rectangle in
(x, y) space, so min/max file statistics prune scans on EITHER dimension
— the multi-dimensional clustering trick behind Delta/Iceberg
``OPTIMIZE ZORDER BY`` (the reference's tables are clustered only by
ingest order; see SURVEY.md §2.1 on its partitioned sink). Computing the
key is pure bit arithmetic, so it stays map-only whole-stage codegen.

The bit-spread is the classic magic-mask doubling: spread the low 16
bits of each coordinate into the even bit positions, then OR the second
coordinate shifted up one. A single mask table generates BOTH dialects
(Spark SQL via ``shiftleft``, DuckDB via ``<<``) so the oracle runs the
bit-identical computation — integers end to end, no parity risk.
"""

from __future__ import annotations

# (shift, mask) doubling steps spreading 16 bits across 32 positions.
# Masks written in decimal: Spark SQL has no 0x literals.
_SPREAD_STEPS = (
    (8, 16711935),     # 0x00FF00FF
    (4, 252645135),    # 0x0F0F0F0F
    (2, 858993459),    # 0x33333333
    (1, 1431655765),   # 0x55555555
)


def _shl_spark(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})"


def _shl_duckdb(e: str, n: int) -> str:
    return f"({e} << {n})"


def _spread16(expr: str, shl) -> str:
    e = expr
    for n, mask in _SPREAD_STEPS:
        e = f"(({e} | {shl(e, n)}) & {mask})"
    return e


def morton_sql(x: str, y: str, dialect: str) -> str:
    """SQL text computing the 32-bit Morton interleave of the low 16
    bits of integer expressions ``x`` (even bit positions) and ``y``
    (odd positions), for ``dialect`` in {"spark", "duckdb"}. The same
    mask table drives both renderings, so the two engines execute the
    identical arithmetic.
    """
    shl = {"spark": _shl_spark, "duckdb": _shl_duckdb}[dialect]
    sx = _spread16(f"(CAST({x} AS BIGINT) & 65535)", shl)
    sy = _spread16(f"(CAST({y} AS BIGINT) & 65535)", shl)
    return f"({sx} | {shl(sy, 1)})"


def scale16_sql(col: str, lo: str, hi: str, dialect: str) -> str:
    """SQL text range-normalizing an integer expression into [0, 65535]
    given min/max expressions — the rank/range normalization real
    Z-order implementations apply per column BEFORE interleaving.
    Without it a wide dimension owns all the high interleave bits and a
    narrow dimension (e.g. a 100-value supplier key against a 20k-value
    part key) never influences file ranges, so no pruning on it.
    Integer floor division in both dialects; zero-width ranges pin to 0.
    """
    div = {"spark": "DIV", "duckdb": "//"}[dialect]
    return (
        f"((CAST({col} AS BIGINT) - {lo}) * 65535 "
        f"{div} greatest({hi} - {lo}, 1))"
    )
