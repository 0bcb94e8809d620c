"""Conf-specific work runs in child sessions, never by setting confs on
the caller's session: a block that needs its own confs cannot change what
concurrent queries on the root session read, and two such blocks can run
at once."""

from __future__ import annotations

import re
import sys
import threading
import time

import __spark_entry__ as entry
from datafoundation_multi_source_retail_data_integration_hub_spark.functions.concurrent import (
    overlap,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import storage
from datafoundation_multi_source_retail_data_integration_hub_spark.queries import (
    relational_ext,
    warehouse,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
    child_session,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.sources import (
    tables as TB,
)

from .conftest import SF_SMOKE
from .oracle import compare

MODE = "spark.sql.sources.partitionOverwriteMode"
SHUFFLE = "spark.sql.shuffle.partitions"


def test_child_session_starts_from_the_parents_runtime_confs(spark):
    TB.load_table(spark, SF_SMOKE, "events")  # sets the reader confs at runtime
    child = child_session(spark, {SHUFFLE: "3"})
    for k in (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.warehouse.dir",  # static: shared, not copied
    ):
        assert child.conf.get(k) == spark.conf.get(k), k
    assert child.conf.get(SHUFFLE) == "3"
    assert spark.conf.get(SHUFFLE) != "3"


def test_root_confs_hold_while_conf_specific_blocks_are_open(spark, monkeypatch):
    """While other threads sit inside scd2_partition_merge's
    dynamic-overwrite block and pagerank's shuffle-count block, the root
    session still reads its own overwrite mode and shuffle count."""
    entered = {"merge": threading.Event(), "pagerank": threading.Event()}
    release = threading.Event()
    seen = {}

    def hold(key, conf):
        def body(s, sf_dir, *rest):
            seen[key] = s.conf.get(conf)
            entered[key].set()
            release.wait(120)
            return s.range(1)

        return body

    monkeypatch.setattr(warehouse, "_scd2_partition_merge", hold("merge", MODE))
    monkeypatch.setattr(
        relational_ext, "_purchase_graph_pagerank", hold("pagerank", SHUFFLE)
    )
    root = (spark.conf.get(MODE), spark.conf.get(SHUFFLE))
    threads = [
        threading.Thread(target=warehouse.scd2_partition_merge, args=(spark, SF_SMOKE)),
        threading.Thread(
            target=relational_ext.purchase_graph_pagerank, args=(spark, SF_SMOKE)
        ),
    ]
    for t in threads:
        t.start()
    try:
        assert entered["merge"].wait(120) and entered["pagerank"].wait(120)
        during = (spark.conf.get(MODE), spark.conf.get(SHUFFLE))
    finally:
        release.set()
        for t in threads:
            t.join(120)
    assert not any(t.is_alive() for t in threads)
    n = TB.scaled_shuffle_partitions(spark, SF_SMOKE, ("lineitem", "orders"), 4)
    assert seen == {"merge": "dynamic", "pagerank": str(n)}
    assert str(n) != root[1]
    assert during == root


def test_shuffle_count_takes_effect_in_the_childs_executed_plan(spark):
    n = TB.scaled_shuffle_partitions(spark, SF_SMOKE, ("lineitem", "orders"), 4)
    assert str(n) != spark.conf.get(SHUFFLE)
    df = relational_ext.purchase_graph_pagerank(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = re.findall(r"hashpartitioning\([^()]*, (\d+)\)", plan)
    assert counts and set(counts) == {str(n)}, plan


def test_two_conf_specific_queries_at_once_match_their_oracles(spark):
    """Two dynamic-overwrite SCD2 publishes and the stateful stream
    replay (its own shuffle count) run concurrently on one session."""
    qs, osql = entry.queries(), entry.oracle_sql()
    names = ["scd2_partition_merge", "scd2_partition_merge", "stream_user_session_stats"]
    overlap(*(lambda n=n: compare(spark, SF_SMOKE, qs[n], osql[n], n) for n in names))


def test_table_memo_returns_frames_of_the_callers_session(spark):
    root = TB.load_table(spark, SF_SMOKE, "customer")
    child = child_session(spark, {SHUFFLE: "3"})
    got = TB.load_table(child, SF_SMOKE, "customer")
    assert root.sparkSession is spark
    assert got.sparkSession is child
    assert TB.load_table(spark, SF_SMOKE, "customer").sparkSession is spark
    # one entry per table, however many sessions ask
    size = len(TB._TABLE_CACHE)
    for _ in range(3):
        TB.load_table(child_session(spark, {}), SF_SMOKE, "customer")
    assert len(TB._TABLE_CACHE) == size
    # the child's frame plans under the child's shuffle count
    agg = got.groupBy("c_mktsegment").count()
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\([^()]*, 3\)", plan), plan


def test_spread_memo_persists_once_and_serves_every_session(spark):
    storage.unpersist_all()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        # concurrent first loads of one table (more threads than cores)
        # persist ONE copy
        a, b, *_ = overlap(
            *[lambda: TB.load_table_spread(spark, SF_SMOKE, "documents")] * 8
        )
        sys.setswitchinterval(switch)
        assert len(storage._PERSISTED) == 1
        child = child_session(spark, {})
        c = TB.load_table_spread(child, SF_SMOKE, "documents")
        assert len(storage._PERSISTED) == 1
        assert c.sparkSession is child
        # the child's plan reads the shared cached copy
        cached = c._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in cached, cached
        assert a.count() == b.count() == c.count()
    finally:
        sys.setswitchinterval(switch)
        storage.unpersist_all()


def test_dim_memo_builds_once_under_concurrent_first_callers(spark, monkeypatch):
    """Concurrent first callers of one initial-load dim share ONE build
    and get the same checkpointed frame."""
    built = []
    real = warehouse.scd2_initial_load

    def counting(*args):
        built.append(1)
        time.sleep(0.5)  # hold the build open while the others arrive
        return real(*args)

    monkeypatch.setattr(warehouse, "scd2_initial_load", counting)
    warehouse.clear_dim_cache()
    gate = threading.Barrier(8, timeout=60)

    def call():
        gate.wait()
        return warehouse.dim_customer_scd2_init(spark, SF_SMOKE)

    try:
        frames = overlap(*[call] * 8)
        assert len(built) == 1
        assert all(f is frames[0] for f in frames)
    finally:
        warehouse.clear_dim_cache()
