"""Incremental view maintenance (IVM) for sum/count-mergeable marts.

The reference rebuilds its marts from scratch on every load
(`/root/reference/etl/load_to_query.py:163-169` full-replace semantics);
at 100 TB a mart is never rebuilt — each ingest batch aggregates ITS OWN
rows to group partials and merges them into the stored mart. This module
is the reusable core behind ``queries/warehouse.py::
mart_incremental_refresh`` and ``streaming/pipelines.py::
stream_mart_refresh``:

- **State is exact and mergeable**: per-measure LONG fixed-point unit
  totals stored as DECIMAL(38,0) (``functions.parity.fixed_units_total``)
  plus a row count. Merging = plain addition, associative and
  order-independent, so any batch arrival order converges to the same
  bits as a one-shot aggregation. A ROUNDED double partial does NOT have
  this property (4-decimal midpoints drift — pinned by
  tests/test_fixed_point_parity.py::test_fixed_units_total_merges_across_batches).
- **Refreshes are batch-keyed AND versioned**: the ``etl_run_log`` audit
  guard (``pipelines/audit.py``) short-circuits an already-applied batch
  id, and the state itself lands in immutable per-version tables
  (``<table>_v<N>``, N = the micro-batch id) where v{N} is a pure
  function of v{N-1} plus the batch. A crash between the state write and
  the audit append therefore redelivers into an idempotent REWRITE of
  v{N} — at-least-once delivery (stream replays, retried jobs) cannot
  double-count even inside that window.
- **Presentation rounds the merged state** with the same decimal-divide
  -> double -> ``round_dp`` sequence as ``fixed_sum``, so the presented
  mart is bit-identical to a one-shot build — which is what the DuckDB
  oracles check.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parity import fixed_units_total, round_dp

_STATE_DEC = "decimal(38,0)"


@dataclass(frozen=True)
class IVMConfig:
    """Column contract for one incrementally-maintained mart.

    ``group_cols``: mart grain. ``unit_cols``: LONG fixed-point unit
    columns on the input rows (built with ``fixed_units``); each gets a
    ``<name>_total`` DECIMAL(38,0) state column. ``dp``: the unit scale,
    used at presentation time. ``count_col``: row-count state column.
    """

    group_cols: tuple[str, ...]
    unit_cols: tuple[str, ...]
    dp: int = 4
    count_col: str = "n_rows"

    def __post_init__(self) -> None:
        # same bound as functions/parity.fixed_sum_dec: dp >= 7 makes
        # present()'s 10**dp literal overflow decimal(7,0) and every
        # presented total silently NULL under non-ANSI SQL
        if not 0 <= self.dp <= 6:
            raise ValueError(f"dp must be in [0, 6], got {self.dp}")

    def state_cols(self) -> list[str]:
        return [f"{c}_total" for c in self.unit_cols]


def state_partials(batch: DataFrame, cfg: IVMConfig) -> DataFrame:
    """One batch's rows -> exact mergeable group partials."""
    aggs = [
        fixed_units_total(c).alias(f"{c}_total") for c in cfg.unit_cols
    ]
    aggs.append(F.count(F.lit(1)).alias(cfg.count_col))
    return batch.groupBy(*cfg.group_cols).agg(*aggs)


def merge_state(stored: DataFrame, partial: DataFrame, cfg: IVMConfig) -> DataFrame:
    """Merge a batch's partials into the stored state — mart-sized +
    batch-sized rows move; the historical fact is never rescanned."""
    aggs = [
        F.sum(c).cast(_STATE_DEC).alias(c) for c in cfg.state_cols()
    ]
    aggs.append(F.sum(cfg.count_col).alias(cfg.count_col))
    return (
        stored.unionByName(partial).groupBy(*cfg.group_cols).agg(*aggs)
    )


def present(state: DataFrame, cfg: IVMConfig) -> DataFrame:
    """Rounded view over the exact state — the same decimal-divide ->
    double -> round sequence as ``fixed_sum``, so presented values are
    bit-identical to a one-shot aggregation."""
    scale = F.lit(10**cfg.dp).cast("decimal(7,0)")
    cols = [F.col(c) for c in cfg.group_cols]
    cols += [
        round_dp((F.col(f"{c}_total") / scale).cast("double")).alias(
            f"total_{c.removesuffix('_u')}"
        )
        for c in cfg.unit_cols
    ]
    cols.append(F.col(cfg.count_col))
    return state.select(*cols)


def state_table(table: str, version: int) -> str:
    """Name of one immutable state version (``<table>_v<version>``)."""
    return f"{table}_v{version}"


def apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: str,
    table: str,
    database: str,
    cfg: IVMConfig,
    ts: datetime,
    version: int,
    precomputed_partial: DataFrame | None = None,
) -> bool:
    """Merge one batch into version ``version`` of the stored mart
    state. Returns False (no-op) when ``batch_id`` was already applied.

    At-least-once safety does NOT rest on the audit marker alone: each
    version is a PURE function of the immutable previous version plus
    the delivered batch, written with overwrite. A crash in the window
    between the state write and the audit append redelivers the batch,
    which re-derives v{version} from v{version-1} to the same content —
    an idempotent rewrite, never a double-merge (the audit guard only
    short-circuits the recompute once its row landed). ``version`` must
    be the stream's micro-batch id (or any monotone per-batch integer),
    which Structured Streaming keeps stable across checkpoint restarts.
    Old versions accumulate like any versioned table; a production
    deployment vacuums them the way Delta/Iceberg expire snapshots.

    ``precomputed_partial`` lets a caller overlap this batch's partial
    aggregation with an earlier version's apply (optimization guide
    §2.6 — the partials of different batches are independent even
    though their MERGES are ordered). It must be exactly
    ``state_partials(batch, cfg)``, materialized (localCheckpoint) —
    the guard below still runs first, so at-least-once redelivery
    semantics are unchanged."""
    from ..pipelines.audit import RunLogEntry, log_run, run_already_logged
    from ..sources import writers as W

    if run_already_logged(spark, batch_id, table, database):
        return False
    # checkpointed: the audit count and the merge both consume it, and
    # the audit row must record THIS batch's rows (matching logged_write
    # semantics), not the cumulative mart count
    if precomputed_partial is not None:
        partial = precomputed_partial
    else:
        partial = state_partials(batch, cfg).localCheckpoint(eager=True)
    # §2.6 overlap: the audit row count reads the checkpointed partial,
    # independently of the merge/write chain that also reads it — run it
    # beside the state publish. log_run still lands strictly AFTER the
    # state write (the audit marker must never precede the state it
    # records), so the at-least-once crash-window analysis is unchanged.
    from ..functions.concurrent import overlap

    def publish() -> None:
        if version > 0:
            prev_table = state_table(table, version - 1)
            if not W.table_exists(spark, prev_table, database=database):
                # surface the versioned-state contract instead of a
                # generic missing-table error: v{N} is derived from the
                # immutable v{N-1}, so a vacuum policy that expires old
                # versions (or a rebuilt state database) must keep at
                # least the latest version or redelivered batches can no
                # longer be applied
                raise RuntimeError(
                    f"ivm.apply_batch: previous state version "
                    f"{prev_table!r} not found in database {database!r} "
                    f"— version {version} is a pure function of version "
                    f"{version - 1}, which must exist before it can be "
                    "derived (was it vacuumed, or the state database "
                    "rebuilt?)"
                )
            prev = W.read_table(spark, prev_table, database=database)
            merged = merge_state(prev, partial, cfg)
        else:
            merged = partial
        # no checkpoint needed on merged: the write target is
        # v{version}, which the plan never reads (it reads the immutable
        # v{version-1})
        W.write_table(merged, state_table(table, version), database=database)

    _, n = overlap(publish, lambda: partial.agg(F.sum(cfg.count_col)).first()[0])
    log_run(
        spark,
        RunLogEntry(batch_id, table, int(n or 0), "success", ts, ts),
        database=database,
    )
    return True
