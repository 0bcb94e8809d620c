"""ETL run audit log — the reference's ``etl_run_log`` staging table
(``README.md:74-79``: MySQL staging surface = ``stg_retail_sales``,
``stg_api_products``, ``etl_run_log``).

One append-only warehouse table, one row per (run, target table):
run id, target, row count, status, and caller-injected timestamps
(injected — never ``current_timestamp()`` inside the plan, so runs are
deterministic and replayable). Appends are tiny single-row writes; at
scale the table stays a cheap audit trail partition-prunable by run date.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import writers as W
from ..sources.writers import DEFAULT_DATABASE, read_table, write_table

RUN_LOG_TABLE = "etl_run_log"

RUN_LOG_SCHEMA = (
    "run_id string, table_name string, n_rows long, status string, "
    "started_at timestamp, finished_at timestamp, message string"
)


@dataclass(frozen=True)
class RunLogEntry:
    run_id: str
    table_name: str
    n_rows: int
    status: str  # "success" | "failed" | "skipped"
    started_at: datetime
    finished_at: datetime
    message: str = ""


def run_already_logged(
    spark: SparkSession,
    run_id: str,
    table: str,
    database: str = DEFAULT_DATABASE,
) -> bool:
    """True when an audit row for (run_id, table) exists — THE
    idempotence guard every at-least-once writer shares (one
    implementation, so the exactly-once predicate cannot drift between
    writers)."""
    W.ensure_database(spark, database)
    if not W.table_exists(spark, RUN_LOG_TABLE, database):
        return False
    return not (
        read_table(spark, RUN_LOG_TABLE, database=database)
        .filter((F.col("run_id") == run_id) & (F.col("table_name") == table))
        .limit(1)
        .isEmpty()
    )


def log_run(
    spark: SparkSession,
    entry: RunLogEntry,
    database: str = DEFAULT_DATABASE,
) -> None:
    """Append one audit row (reference: per-run bookkeeping rows in
    ``etl_run_log``). Single-slice frame: the default createDataFrame
    fan-out made every one-row audit append a defaultParallelism-task
    write (functions/local.py)."""
    from ..functions.local import local_frame

    row = local_frame(
        spark,
        [
            (
                entry.run_id,
                entry.table_name,
                int(entry.n_rows),
                entry.status,
                entry.started_at,
                entry.finished_at,
                entry.message,
            )
        ],
        RUN_LOG_SCHEMA,
    )
    write_table(row, RUN_LOG_TABLE, mode="append", database=database)


def logged_write(
    df: DataFrame,
    table: str,
    run_id: str,
    started_at: datetime,
    finished_at: datetime,
    mode: str = "overwrite",
    database: str = DEFAULT_DATABASE,
) -> int:
    """Write ``df`` to ``table`` and append the matching audit row.

    Returns the written row count. The count comes from one extra action
    on ``df`` — callers loading expensive frames should persist first
    (the retail pipeline's loads are all terminal writes, so the scan is
    the same one the write performs).
    """
    n = df.count()
    try:
        write_table(df, table, mode=mode, database=database)
        status = "success"
        msg = ""
    except Exception as exc:  # noqa: BLE001 — status row must still land
        status = "failed"
        msg = str(exc)[:500]
    log_run(
        df.sparkSession,
        RunLogEntry(run_id, table, n, status, started_at, finished_at, msg),
        database=database,
    )
    if status == "failed":
        raise RuntimeError(f"write of {table} failed (run {run_id}): {msg}")
    return n


def logged_stream_sink(
    inner: Callable[[DataFrame, int], None],
    table: str,
    stream_id: str,
    started_at: datetime,
    finished_at: datetime,
    database: str = DEFAULT_DATABASE,
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` handler with batchId-idempotent audit
    logging — ``logged_write`` for the incremental path (the reference's
    ``etl_run_log`` intent, ``README.md:74-79``, on streaming ingestion).

    ``foreachBatch`` delivers at-least-once: after a crash between the
    sink commit and the checkpoint commit, the SAME (stream, batch_id)
    replays. The inner sink must already be idempotent (overwrite /
    MERGE / batchId-named files); the audit table is append-only, so a
    replay would double-append without a guard. The wrapper keys each
    row by ``run_id = f"{stream_id}#{batch_id}"`` and appends only when
    that (run_id, table) row is absent — the inner sink still re-runs on
    replay (it must, to converge), but the audit trail records each
    micro-batch exactly once.

    Timestamps are caller-injected, as everywhere in this module: no
    ``current_timestamp()`` inside a plan, so replays are deterministic.
    """

    def handle(batch: DataFrame, batch_id: int) -> None:
        from ..functions.concurrent import overlap

        spark = batch.sparkSession
        # §2.6: the audit row count is a read-only action over the same
        # micro-batch the (idempotent) inner sink consumes — overlap the
        # two jobs instead of chaining their scheduling floors. The
        # count must still come from the BATCH (logged_write semantics),
        # not from the sink's output.
        _, n = overlap(lambda: inner(batch, batch_id), batch.count)
        run_id = f"{stream_id}#{batch_id}"
        if run_already_logged(spark, run_id, table, database):
            return
        log_run(
            spark,
            RunLogEntry(run_id, table, n, "success", started_at, finished_at),
            database=database,
        )

    return handle


def run_history(
    spark: SparkSession, database: str = DEFAULT_DATABASE
) -> DataFrame:
    """The audit table, newest first."""
    return read_table(spark, RUN_LOG_TABLE, database=database).orderBy(
        "started_at", ascending=False
    )
