"""U1/U2 simulation tests: oracle parity for generation, invariants +
determinism for the sequential sim (SURVEY §5.2-5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.operators import simulation as sm
from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_matches_oracle


def test_generated_rides_oracle_parity(spark, duck):
    q = QUERIES["generated_rides"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "generated_rides")


def _sim(spark):
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    return sm.simulated_rides(
        spark, nation, "2024-06-01 06:00:00", "2024-06-01 08:00:00", seed=42
    )


def test_simulation_invariants(spark):
    df = _sim(spark).cache()
    n = df.count()
    assert n > 1000
    # capacity conservation (ref part2:516-565 semantics)
    bad = df.filter(
        (F.col("total_passengers") < 0)
        | (F.col("total_passengers") > F.col("total_capacity"))
        | (F.col("passengers_boarding") > F.col("passengers_in_stop"))
        | (F.col("remaining_at_stop") != F.col("passengers_in_stop") - F.col("passengers_boarding"))
        | (F.col("remaining_capacity") != F.col("total_capacity") - F.col("total_passengers"))
    ).count()
    assert bad == 0
    # last-stop flush: everyone alights, nobody boards, bus empty
    flush_bad = df.filter(F.col("last_stop")).filter(
        (F.col("total_passengers") != 0) | (F.col("passengers_boarding") != 0)
    ).count()
    assert flush_bad == 0
    # running-total recurrence holds within each ride
    w_prev = F.expr(
        "lag(total_passengers) OVER (PARTITION BY bus_ride_id ORDER BY bus_stop_index)"
    )
    rec_bad = df.withColumn("prev", w_prev).filter(F.col("bus_stop_index") > 0).filter(
        F.col("total_passengers")
        != F.col("prev") - F.col("passengers_alighting") + F.col("passengers_boarding")
    ).count()
    assert rec_bad == 0
    df.unpersist()


def test_simulation_deterministic_across_runs(spark):
    h1 = _sim(spark).orderBy("bus_ride_id", "bus_stop_index").collect()
    h2 = _sim(spark).repartition(13).orderBy("bus_ride_id", "bus_stop_index").collect()
    assert h1 == h2


def test_simulation_seed_changes_results(spark):
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    a = sm.simulated_rides(spark, nation, "2024-06-01 06:00:00", "2024-06-01 07:00:00", seed=1)
    b = sm.simulated_rides(spark, nation, "2024-06-01 06:00:00", "2024-06-01 07:00:00", seed=2)
    assert a.orderBy("bus_ride_id", "bus_stop_index").collect() != b.orderBy(
        "bus_ride_id", "bus_stop_index"
    ).collect()


def test_analyze_table_stats_drive_broadcast(spark):
    """ANALYZE TABLE COMPUTE STATISTICS feeds the CBO: a small analyzed
    table under the broadcast threshold plans a BroadcastHashJoin."""
    from open_data_lakehouse_demo_spark.plans import ddl

    ddl.create_namespace(spark, "lakehouse_test")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    try:
        ddl.ctas_from_df(nation, "lakehouse_test.nation_stats")
        spark.sql("ANALYZE TABLE lakehouse_test.nation_stats COMPUTE STATISTICS")
        stats_row = spark.sql(
            "DESCRIBE TABLE EXTENDED lakehouse_test.nation_stats"
        ).filter("col_name = 'Statistics'").collect()
        assert stats_row and "rows" in stats_row[0]["data_type"]
        joined = customer.join(
            spark.table("lakehouse_test.nation_stats"),
            customer.c_nationkey == F.col("n_nationkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
    finally:
        ddl.drop_table(spark, "lakehouse_test.nation_stats")


def test_sim_carry_buffer_survives_tiny_arrow_batches(spark):
    """Force Arrow to split every ride group across batches (batch size 7
    vs ~14-row rides): the mapInPandas carry buffer must reassemble groups
    bit-identically to an unsplit run."""
    from open_data_lakehouse_demo_spark.operators import simulation as sm

    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    rides = sm.with_waiting_passengers(
        sm.generate_rides(sm.build_bus_lines(nation),
                          "2024-06-01 06:00:00", "2024-06-01 08:00:00")
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        split_rows = sorted(tuple(r) for r in sm.simulate_passengers(rides).collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    whole_rows = sorted(tuple(r) for r in sm.simulate_passengers(rides).collect())
    assert split_rows == whole_rows and len(split_rows) > 0
