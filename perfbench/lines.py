"""Catalog lines of the ``catalog_sweep`` workload.

A fixed subset of ``bench.BENCH_QUERIES`` (imported, so a line renamed
there fails here loudly): a TPC-H aggregate, an as-of join on the
events, a line on the ``functions.text`` expressions, one on a
``functions.multimodal`` Arrow (``mapInPandas``) kernel, and
``dedup_containment``, whose first call builds the persisted
shingle-intersection layout with the ``functions.dedup`` kernels. Kept
small enough that a cold plus eight warm sweeps fit one benchmark run.
"""

from bench import BENCH_QUERIES

CATALOG_LINES = [
    "q1_pricing_summary",
    "asof_join_enrich",
    "text_stats",
    "multimodal_features",
    "dedup_containment",
]

missing = sorted(set(CATALOG_LINES) - set(BENCH_QUERIES))
if missing:
    raise ImportError(f"catalog lines not in bench.BENCH_QUERIES: {missing}")
