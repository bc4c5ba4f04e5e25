"""Differential test: every inventory query vs its DuckDB oracle (SURVEY §5.1)."""

from __future__ import annotations

import pytest

from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_matches_oracle

WITH_ORACLE = [name for name, q in QUERIES.items() if q.oracle is not None]
ROWS_ONLY = [name for name, q in QUERIES.items() if q.oracle is None]


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q.spark(spark, SF_DIR)
    assert_matches_oracle(sdf, duck, q.oracle, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    q = QUERIES[name]
    sdf = q.spark(spark, SF_DIR)
    assert sdf.count() >= 0


def test_conservation_invariant_is_empty(spark):
    """The ported part0:334-358 invariant: fan-out conserves hourly totals."""
    assert QUERIES["hourly_conservation_check"].spark(spark, SF_DIR).count() == 0


def test_scrub_oracle_rewrite_equiv(duck):
    """r9 rewrote the ExactSubstr scrub oracle tail for driver
    portability (VERDICT r8 item #1: drop the correlated NOT EXISTS,
    string_agg(ORDER BY), and tk[i] — the constructs unique to the two
    driver-red rows). This pins the rewritten _SCRUB_ORACLE ≡ the legacy
    r7/r8 tail under local DuckDB, so the rewrite provably did not move
    the oracle's semantics."""
    from open_data_lakehouse_demo_spark.plans import inventory_corpus as ic

    legacy = ic._MIV_CTES + """,
tokpos AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM toks, unnest(range(1, len(tk) + 1)) t(i)
  WHERE doc_id IN (SELECT doc FROM miv)
),
scrubbed AS (
  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM miv m WHERE m.doc = tp.doc_id AND tp.pos BETWEEN m.s AND m.e)
  GROUP BY tp.doc_id
),
spanstats AS (SELECT doc, COUNT(*) AS n_spans, SUM(e - s + 1) AS removed FROM miv GROUP BY doc)
SELECT d.doc_id,
  CASE WHEN ss.doc IS NULL THEN d.text ELSE COALESCE(sc.clean, '') END AS clean_text,
  COALESCE(ss.n_spans, 0) AS n_spans,
  COALESCE(ss.removed, 0) AS n_tokens_removed
FROM documents d
LEFT JOIN spanstats ss ON d.doc_id = ss.doc
LEFT JOIN scrubbed sc ON d.doc_id = sc.doc_id
"""
    old = sorted(duck.execute(legacy).fetchall())
    new = sorted(duck.execute(ic._SCRUB_ORACLE).fetchall())
    assert old == new
    # the incremental variant wraps _SCRUB_ORACLE, so its equivalence
    # follows; assert anyway (cheap) in case the wrapper ever forks
    old_incr = [r for r in old if r[0] % 10 == 0]
    new_incr = sorted(duck.execute(ic._SCRUB_INCR_ORACLE).fetchall())
    assert old_incr == new_incr


def test_scrub_canary_twins(spark):
    """Frame-identity twins for the two r9 bisecting canaries, retired
    from the driver surface in r11 (ENDGAME POLICY,
    __spark_entry__._DRIVER_EXCLUDE): each canary must BE a projection
    of the driver-checked scrub_duplicated_spans frame — the retirement
    rationale is that all three share one session-materialized scrub
    result, so the full query's green driver row covers the canaries'
    logic. Both also keep their own DuckDB-oracle rows every pytest run
    via test_query_matches_oracle (they stay registered in
    plans/inventory).

    Cache policy note (carried from the driver artifact into the twins'
    home, VERDICT r10 item #7): all three queries reuse the session's
    cached ExactSubstr positioned-hash index + merged-interval relation
    (the `substr_index` and `scrub_result` session caches, which
    plans/cache_registry.py clears together for these rows), so their
    WARM medians in BENCH_QUERIES.json exclude that one-time build; the
    artifact's `cold_s` block records one run each with exactly that cache cleared
    (scan cache warm) — the per-session cost a user pays before the
    warm numbers apply. bench.py keeps timing both canaries (they
    remain registered); retirement changed only the driver-facing
    queries()/oracle_sql() surface."""
    from pyspark.sql import functions as F

    full = QUERIES["scrub_duplicated_spans"].spark(spark, SF_DIR)
    meta = QUERIES["scrub_spans_meta"].spark(spark, SF_DIR)
    digest = QUERIES["scrub_text_digest"].spark(spark, SF_DIR)

    want_meta = full.select("doc_id", "n_spans", "n_tokens_removed")
    assert meta.columns == want_meta.columns
    assert meta.exceptAll(want_meta).isEmpty()
    assert want_meta.exceptAll(meta).isEmpty()

    want_digest = full.select(
        "doc_id", F.md5(F.col("clean_text")).alias("clean_md5")
    )
    assert digest.columns == want_digest.columns
    assert digest.exceptAll(want_digest).isEmpty()
    assert want_digest.exceptAll(digest).isEmpty()


def test_retired_canaries_off_driver_surface():
    """The r11 retirement is driver-surface-only: queries()/oracle_sql()
    exclude the canaries (and bpe_merges), while plans/inventory keeps
    them registered for pytest + bench."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("scrub_spans_meta", "scrub_text_digest", "bpe_merges"):
        assert name not in qs
        assert name in QUERIES
    assert len(qs) == 95
    assert "scrub_duplicated_spans" in qs


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    # the driver surface is the registry minus the pytest-only demotions
    # (ENDGAME POLICY in __spark_entry__); every excluded name must still
    # be a registered query so tests and direct callers keep reaching it
    assert set(e._DRIVER_EXCLUDE) <= set(QUERIES)
    assert set(qs) == set(QUERIES) - set(e._DRIVER_EXCLUDE)


def test_no_oracle_ships_hugeint_columns():
    """The r7-r9 scrub saga's class-level guarantee (VERDICT r9 item #2):
    DuckDB SUM(BIGINT) returns HUGEINT, whose pandas conversion is
    version-dependent — a driver-only hash divergence. The gate's
    type-audit (driver_sim.check_oracle_types) must find ZERO oracles
    shipping a HUGEINT column, and must be able to catch one (sanity:
    an uncast SUM behind COALESCE — exactly how the scrub rows hid from
    a final-SELECT grep — still DESCRIBEs as HUGEINT)."""
    import duckdb

    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "tools"))
    from driver_sim import check_oracle_types

    assert check_oracle_types() == []
    # the detector sees through COALESCE
    con = duckdb.connect()
    desc = con.execute(
        "DESCRIBE SELECT COALESCE(s, 0) AS v FROM "
        "(SELECT SUM(x) AS s FROM (VALUES (CAST(1 AS BIGINT))) t(x))"
    ).fetchall()
    assert any("HUGEINT" in (c[1] or "").upper() for c in desc)
