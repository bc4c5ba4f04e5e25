"""Registry of CACHE-BACKED inventory queries — rows whose warm bench
numbers depend on a session-scoped cached structure (a trained ANN
index, the ExactSubstr positioned-hash index / merged-interval relation,
eval-hash literal sets). One list, two consumers:

- tools/bench_vs_duck.py prints the cold-build appendix from it;
- bench.py records a per-row ``cold_s`` in BENCH_QUERIES.json from it,
  so the driver artifact is self-describing (r9 VERDICT item #6): a
  reader of BENCH_QUERIES.json sees both the steady-state warm median
  AND what one session pays before it applies, without cross-referencing
  BENCH_VS_DUCK.md.

Each row: (query_name, session cache names, cached_structure_description).
The names are the ``sources.io.SESSION_CACHES`` entries the query's warm
run reuses; the scan cache stays warm so a cold run prices the
index/arm/eval build itself, not parquet footer resolution.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from open_data_lakehouse_demo_spark.sources.io import clear_session_cache

_SCRUB = ("substr_index", "scrub_result")

COLD_ROWS: list[tuple[str, tuple[str, ...], str]] = [
    ("cosine_topk_ivf_kmeans", ("ivf_index",), "trained-IVF index"),
    ("cosine_topk_ivf_kmeans1", ("ivf_index",), "trained-IVF index"),
    ("ivf_pq_topk", ("ivf_index",), "IVF+PQ codebooks+codes"),
    ("ivf_sq8_topk", ("ivf_index",), "IVF+SQ8 encoded lists"),
    ("ann_recall_eval", ("ann_ranked",), "ground-truth arm"),
    ("ann_recall_sweep", ("ann_ranked",), "ground-truth arm"),
    ("shared_substring_spans", ("substr_index",), "positioned-hash index"),
    # the scrub family's cold runs clear BOTH caches — the
    # positioned-hash index AND the shared merged-interval relation
    ("scrub_duplicated_spans", _SCRUB, "positioned-hash index + merged intervals"),
    ("scrub_spans_meta", _SCRUB, "positioned-hash index + merged intervals"),
    ("scrub_text_digest", _SCRUB, "positioned-hash index + merged intervals"),
    ("incremental_scrub_batch", ("substr_index",), "positioned-hash index"),
    ("benchmark_decontaminate", ("decon_eval",), "eval hash literals"),
    ("bloom_decontaminate", ("bloom_eval",), "bloom+audit eval literals"),
]


def cold_specs() -> list[tuple[str, Callable[[], None], str]]:
    """COLD_ROWS with one clear action per row."""
    return [(q, partial(clear_session_cache, *names), what)
            for q, names, what in COLD_ROWS]
