"""Scan fan-out + scale-adaptive scoped partition helpers (r14).

The corpus parquet files are single-row-group, so scans run as one task
and any heavy projection fused into them is single-threaded;
``load_table_spread`` fixes that with a layout-derived repartition +
persisted barrier, and ``scaled_shuffle_partitions`` replaces fixed
scoped shuffle-partition constants (the sf10 sweep OOM'd pagerank's
old constant 4)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    storage,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.sources.tables import (
    _FANOUT_MEMO,
    load_table,
    load_table_spread,
    scaled_shuffle_partitions,
    scan_fanout,
    table_bytes,
)

from .conftest import SF_SMOKE


def test_scan_fanout_fires_on_single_row_group(spark):
    _FANOUT_MEMO.clear()
    n = scan_fanout(spark, SF_SMOKE, "documents")
    assert n == spark.sparkContext.defaultParallelism


def test_scan_fanout_zero_when_layout_fans_wide(spark, tmp_path):
    # a table already laid out as >= cores row groups parallelizes
    # natively — the helper must return 0 (no extra exchange)
    cores = spark.sparkContext.defaultParallelism
    rows = 4 * cores
    tbl = pa.table({"id": list(range(rows))})
    path = str(tmp_path / "many.parquet")
    pq.write_table(tbl, path, row_group_size=1)
    assert pq.ParquetFile(path).metadata.num_row_groups >= cores
    _FANOUT_MEMO.clear()
    try:
        assert scan_fanout(spark, str(tmp_path), "many") == 0
    finally:
        _FANOUT_MEMO.clear()


def test_load_table_spread_same_rows_wider_layout(spark):
    _FANOUT_MEMO.clear()
    plain = load_table(spark, SF_SMOKE, "documents")
    spread = load_table_spread(spark, SF_SMOKE, "documents")
    try:
        assert (
            spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, spread.collect()))
        assert a == b
    finally:
        storage.unpersist_all()


def test_scaled_shuffle_partitions_floor_and_growth():
    docs = os.path.join(SF_SMOKE, "documents.parquet")
    size = os.path.getsize(docs)
    assert table_bytes(SF_SMOKE, "documents") == size
    # huge target -> the measured local floor wins
    assert scaled_shuffle_partitions(SF_SMOKE, ("documents",), 4) == 4
    # tiny target -> grows with input bytes (ceil division)
    grown = scaled_shuffle_partitions(
        SF_SMOKE, ("documents",), 4, target_bytes=1024
    )
    assert grown == max(4, -(-size // 1024))
    assert grown > 4


def test_scaled_shuffle_partitions_warns_on_missing_table():
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = scaled_shuffle_partitions(SF_SMOKE, ("no_such_table",), 7)
    assert got == 7
    assert any(
        issubclass(x.category, RuntimeWarning)
        and "falling back to the bench-scale floor" in str(x.message)
        for x in w
    )


def test_scaled_shuffle_partitions_cap_bounds_pathological_estimates():
    # a 1-byte target over any real file would explode the count; the
    # cap keeps a bad estimate from minting tens of thousands of
    # near-empty shuffle partitions
    with pytest.warns(RuntimeWarning, match="clamped to the cap 64"):
        got = scaled_shuffle_partitions(
            SF_SMOKE, ("documents",), 4, target_bytes=1, cap=64
        )
    assert got == 64


def test_spread_memo_shares_one_persisted_frame(spark):
    # two loads in one "query window" share the cached plan (new exprIds,
    # same storage); unpersist_all drops the memo with the persist
    from datafoundation_multi_source_retail_data_integration_hub_spark.sources import (
        tables as TB,
    )

    _FANOUT_MEMO.clear()
    storage.unpersist_all()
    a = load_table_spread(spark, SF_SMOKE, "documents")
    n_after_first = len(TB._SPREAD_MEMO)
    b = load_table_spread(spark, SF_SMOKE, "documents")
    try:
        assert n_after_first == 1
        assert len(TB._SPREAD_MEMO) == 1  # second load hit the memo
        # fresh exprIds per caller: a self-join on equal ids must not
        # trip the ambiguous-self-join check
        assert a.schema == b.schema
        joined = a.join(b, a["doc_id"] == b["doc_id"], "inner")
        assert joined.count() == a.count()
    finally:
        storage.unpersist_all()
    assert not TB._SPREAD_MEMO  # release hook dropped the memo
