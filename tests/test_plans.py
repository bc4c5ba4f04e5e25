"""Physical-plan property regression tests.

Each flagship query's plan must keep the properties documented in
PLANS.md (pushdown, pruning, broadcast choice, single-scan pivots,
generator fan-out, top-k shape). A refactor that silently loses one —
e.g. a filter that stops reaching the scan, or a pivot that regresses to
a double scan — fails here, not in production at 1000× the data.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from gen_plans import CHECKS, check_plan  # noqa: E402


@pytest.mark.parametrize("name,fragments", [(c[0], c[1]) for c in CHECKS],
                         ids=[c[0] for c in CHECKS])
def test_plan_keeps_required_properties(spark, name, fragments):
    missing, plan = check_plan(spark, name, fragments)
    assert not missing, (
        f"{name} lost plan properties {missing}; operator tree:\n"
        + plan.split("\n\n")[0]
    )


def test_cache_registry_names_are_inventory_queries():
    """Every cold-spec row names a registered query (a rename would
    silently drop its cold_s disclosure from BENCH_QUERIES.json and the
    BENCH_VS_DUCK appendix) and only declared session caches, and every
    clear action is callable."""
    from open_data_lakehouse_demo_spark.plans.cache_registry import COLD_ROWS, cold_specs
    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from open_data_lakehouse_demo_spark.sources.io import SESSION_CACHES

    specs = cold_specs()
    assert len(specs) == len(COLD_ROWS) == len({n for n, _, _ in specs})  # no dup rows
    for name, clear, what in specs:
        assert name in QUERIES, f"cold spec {name!r} is not a registered query"
        assert callable(clear) and isinstance(what, str) and what
    for name, caches, _ in COLD_ROWS:
        assert caches and set(caches) <= set(SESSION_CACHES), (name, caches)
