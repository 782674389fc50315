"""Hub tables: DDL + idempotent anti-join loads.

A hub holds one row per distinct business key; its PK is the hash key.
Load protocol (reference INSERT_HUB, ``db/sql_templates.py:180-197``):
DISTINCT (hk, business keys) from the staging hash view, minus keys already
present — expressed as a ``left_anti`` join, which Catalyst/AQE executes as
a broadcast-anti when the existing-key side is small and a shuffled-anti
otherwise. Uniqueness is guaranteed by this protocol (Spark enforces no PKs);
at lake scale the same statement is a Delta ``MERGE WHEN NOT MATCHED INSERT``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from mallarddv_spark.functions.hashing import quote_ident
from mallarddv_spark.plans.model import TableColumn, TransitionRecord, group_records
from mallarddv_spark.plans.types import spark_type_for

#: audit columns shared by all DV tables, in physical order.
HUB_AUDIT = "load_dts timestamp, record_source string, run_id int"


def create_hub_tables(
    spark: SparkSession, dv_db: str, table_columns: list[TableColumn]
) -> list[str]:
    """CREATE TABLE IF NOT EXISTS ``dv.hub_{base}`` from ``rel_type='hub'``
    metadata. Business-key columns are suffixed ``_bk`` (single) or ``_cbk``
    (composite) — reference ``hub_manager.py:64-70``."""
    hub_rows = [c for c in table_columns if c.rel_type == "hub"]
    created = []
    for base, cols in group_records(hub_rows, ["base_name"]).items():
        cols = sorted(cols, key=lambda c: c.column_position)
        suffix = "_cbk" if len(cols) > 1 else "_bk"
        bks = ", ".join(
            f"{quote_ident(c.column_name + suffix)} {spark_type_for(c.column_type)}"
            for c in cols
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {dv_db}.{quote_ident('hub_' + base)} "
            f"({quote_ident(base + '_hk')} string, {HUB_AUDIT}, {bks}) USING parquet"
        )
        created.append(f"hub_{base}")
    return created


def load_hubs(
    spark: SparkSession,
    stg_db: str,
    dv_db: str,
    stg_table: str,
    transitions: list[TransitionRecord],
    run_id: int,
    record_source: str,
    load_dts: str,
) -> list[str]:
    """Load every hub fed by ``stg_table``'s transitions (``target_table``
    LIKE 'hub_%'), one anti-join append per (hub, group). A staging table may
    feed the same hub under several group names (e.g. a self-referencing
    customer/referencer pair) — each group loads independently, in order,
    so later groups see earlier groups' keys."""
    from mallarddv_spark.operators.parallel import run_per_table

    records = [r for r in transitions if r.target_table.startswith("hub_")]
    grouped = group_records(records, ["target_table", "group_name"])
    loaded = []
    tasks: dict[str, list] = {}

    # Single-pass staging scan: every hub group reads the SAME narrow
    # projection (one hk + its business keys per group) materialized once,
    # instead of each group re-scanning + re-hashing the staging table. At
    # 100 TB the staging scan dominates the hub stage, so N groups × 1 scan
    # → 1 scan. The projection is a few string/key columns — orders of
    # magnitude narrower than the full hash view (caching THAT was measured
    # as a loss, NOTES.md) — and is evicted right after the hub stage.
    import threading

    shared: dict[str, object] = {"df": None}
    shared_lock = threading.Lock()
    needed_cols: list[str] = []
    for key, fields in grouped.items():
        _hub, group_name = key.rsplit(".", 1)
        for c in [f"{group_name}_hk", *[f.source_field for f in fields]]:
            if c not in needed_cols:
                needed_cols.append(c)

    # persist pays off only when ≥2 groups re-read the projection: a single
    # group would persist the full staging row count for zero scan savings.
    # MEMORY_AND_DISK (not DISK_ONLY): when the narrow projection exceeds
    # storage memory it degrades to a disk copy, which is still one scan +
    # one spill instead of N full staging scans.
    do_persist = len(grouped) > 1

    def shared_projection():
        # built lazily inside the first load (flows with zero hubs never
        # touch the view); lock so concurrent per-table chains build it once
        with shared_lock:
            if shared["df"] is None:
                src = spark.table(f"{stg_db}.{quote_ident(stg_table + '_hash_vw')}")
                proj = src.select(*[F.col(c) for c in needed_cols])
                shared["df"] = proj.persist() if do_persist else proj
            return shared["df"]

    for key, fields in grouped.items():
        hub_name, group_name = key.rsplit(".", 1)
        hub_hk = f"{hub_name[4:]}_hk"

        def load_group(hub_name=hub_name, group_name=group_name, hub_hk=hub_hk,
                       fields=fields):
            src = shared_projection()
            sub = src.select(
                F.col(f"{group_name}_hk").alias("hk"),
                *[F.col(f.source_field) for f in fields],
            ).distinct()
            existing = spark.table(f"{dv_db}.{quote_ident(hub_name)}").select(
                F.col(hub_hk).alias("hk")
            )
            new = sub.join(existing, on="hk", how="left_anti")
            out = new.select(
                F.col("hk"),
                F.lit(load_dts).cast("timestamp").alias("load_dts"),
                F.lit(record_source).alias("record_source"),
                F.lit(run_id).cast("int").alias("run_id"),
                *[F.col(f.source_field).alias(f.target_field) for f in fields],
            )
            out.write.mode("append").insertInto(f"{dv_db}.{quote_ident(hub_name)}")

        tasks.setdefault(hub_name, []).append(load_group)
        loaded.append(f"{hub_name}:{group_name}")
    # different hubs load concurrently; groups feeding one hub stay ordered
    try:
        failures = run_per_table(tasks)
        if failures:
            raise failures[0][1]
    finally:
        if do_persist and shared["df"] is not None:
            shared["df"].unpersist()
    return loaded
