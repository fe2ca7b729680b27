"""Relational operator library — the engine's reusable API surface.

Each module exposes composable DataFrame → DataFrame operators that the
registered queries (``plans/``) and the pipeline modules build on:

- ``dedup``      : exact-content groups / MinHash-LSH / SimHash / n-gram-Jaccard
                   near-duplicate detection.
- ``joins``      : broadcast-aware equi/semi/anti joins, range join,
                   as-of join.
- ``aggregates`` : exact money sums, rollup/cube, conditional counts.
- ``windows``    : per-group top-k.
- ``similarity`` : embedding cosine top-k (brute force + LSH-bucketed).
- ``quality``    : data-quality expectation checks (reference §2.13).
"""
