"""Session configuration pins."""

from __future__ import annotations

import gc
import threading
from collections import Counter

from py4j.clientserver import ClientServerConnection

from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from perfbench.queries import QUERY_MIX
from tests.conftest import SF_DIR


def _compiles(spark):
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())


def _run(spark, name):
    QUERIES[name].spark(spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()


def test_warm_query_mix_pass_compiles_nothing(spark):
    """The generated-code cache holds a whole query_mix pass (~210
    distinct sources), so a warm pass reuses every class. At Spark's
    default of 100 entries the LRU evicts each pass's sources before the
    next pass reaches them, and every warm pass recompiles all of them."""
    compiles = _compiles(spark)

    def one_pass():
        for name in QUERY_MIX:
            _run(spark, name)

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0


def test_table_profile_hll_warm_run_compiles_nothing(spark):
    """The exact-distinct arm is one distinct aggregate, whose generated
    code is the same every run. N countDistincts side by side plan as an
    Expand whose slot and key order change from run to run, and each
    warm run compiled 6 new classes."""
    compiles = _compiles(spark)
    _run(spark, "table_profile_hll")
    before = compiles.getCount()
    _run(spark, "table_profile_hll")
    assert compiles.getCount() - before == 0


def test_python_call_site_capture_is_off(spark, monkeypatch):
    """With dataFrameDebugging on, PySpark wraps each API call in ~10
    Py4J round-trips of call-site capture: a warm pricing_summary build
    sends ~480-560 commands with it and ~120-190 without. Only commands
    from this thread count; earlier tests leave other threads (stream
    callbacks, proxy finalizers) talking to the JVM."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    QUERIES["pricing_summary"].spark(spark, SF_DIR)
    gc.collect()
    sent = []
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(":".join(command.split("\n", 2)[:2]))
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    QUERIES["pricing_summary"].spark(spark, SF_DIR)
    monkeypatch.undo()
    assert len(sent) < 300, Counter(sent).most_common(5)
