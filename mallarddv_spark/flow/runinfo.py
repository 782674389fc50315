"""Run ledger: ``metadata.runinfo`` bookkeeping.

Mirrors the reference's MetadataManager run functions
(``metadata/metadata_manager.py:169-241``): monotonically increasing run
ids, start/success/failure rows, and the idempotence probe that skips files
already ingested successfully.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession, functions as F

from mallarddv_spark.plans.model import RUNINFO_SCHEMA


def write_ledger_rows(
    spark: SparkSession, metadata_db: str, rows: list[tuple]
) -> None:
    """Append ledger rows in ONE write job. A flow batches its 'start' and
    'success'/'failure' rows through this instead of paying a separate
    1-row append (job + file-commit protocol) per event — measured ~1 s
    each on a warm local session, pure orchestration overhead at any scale."""
    from mallarddv_spark.functions.litframe import literal_frame

    df = literal_frame(spark, rows, RUNINFO_SCHEMA)
    df.write.mode("append").insertInto(f"{metadata_db}.runinfo")


def probe_ledger(
    spark: SparkSession,
    metadata_db: str,
    source_table: str,
    file_path: str | None,
    status: str = "success",
    dv_tables: Sequence[str] = (),
) -> tuple[bool, int, list[int]]:
    """One scan answering the bookkeeping questions a flow asks up front:
    (was this file already ingested successfully?, next run id, orphan
    run ids).

    ``dv_tables`` (qualified names) fold their ``run_id`` columns into the
    same aggregate, so the next run id also clears every id that reached a
    DV table without a ledger row — a killed flow's torn rows keep their id
    as an orphan for ``recover()`` instead of being adopted by the next
    flow's success row. The same aggregate returns those orphans — ids in
    a DV table with no ledger row of any status, the rule
    :func:`~mallarddv_spark.flow.recovery.orphan_run_ids` applies; without
    ``dv_tables`` the list is empty."""
    rows = spark.table(f"{metadata_db}.runinfo")
    for t in dv_tables:
        rows = rows.unionByName(
            spark.table(t).select("run_id", F.lit(True).alias("in_dv")),
            allowMissingColumns=True,
        )
    agg = [F.coalesce(F.max("run_id"), F.lit(0)).alias("m")]
    if dv_tables:
        agg.append(
            F.array_except(
                F.collect_set(F.when(F.col("in_dv"), F.col("run_id"))),
                F.collect_set(F.when(F.col("in_dv").isNull(), F.col("run_id"))),
            ).alias("orphans")
        )
    if file_path is not None:
        agg.append(
            F.max(
                (F.col("source_file") == file_path)
                & (F.col("source_table") == source_table)
                & (F.col("status") == status)
            ).alias("ingested")
        )
    row = rows.agg(*agg).collect()[0]
    ingested = bool(row.ingested) if file_path is not None else False
    orphans = sorted(row.orphans) if dv_tables else []
    return ingested, int(row.m) + 1, orphans
