"""Relational operator library — the engine's reusable API surface.

Each module exposes composable DataFrame → DataFrame operators that the
registered queries (``plans/``) and the pipeline modules build on:

- ``dedup``      : exact-content groups / MinHash-LSH / SimHash / n-gram-Jaccard
                   near-duplicate candidate pairs.
- ``joins``      : semi/anti, range, salted and as-of joins.
- ``aggregates`` : exact money sums, rollup/cube, conditional counts.
- ``windows``    : per-group top-k.
- ``similarity`` : embedding cosine: brute-force top-k, exact all-pairs
                   block GEMM, LSH- and IVF-bucketed ANN.
- ``graph``      : connected components, PageRank, triangles, k-core, BFS.
- ``timeseries`` : entity calendars and gap filling.
- ``quality``    : data-quality expectation checks (reference §2.13).
- ``sizing``     : plan-statistics size gates for broadcast hints.
"""
