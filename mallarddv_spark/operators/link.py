"""Link / non-historized-link tables: DDL + idempotent anti-join loads.

A link holds one row per distinct relationship. Its columns are the member
hubs' hash keys (``mapping='ll'`` → ``{col}_hk``) plus degenerate keys
(``mapping='dk'`` → ``{col}_dk``). The link's own hash key is computed over
the member hubs' *business key source fields* (expanded — see
``plans/planner.py``) plus degenerate keys; the link *row* stores the hubs'
hash keys (reference ``link_manager.py:85-191``, INSERT_LINK template).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from mallarddv_spark.functions.hashing import quote_ident
from mallarddv_spark.operators.hub import HUB_AUDIT
from mallarddv_spark.plans.model import TableColumn, TransitionRecord, group_records
from mallarddv_spark.plans.types import spark_type_for


def _link_hk_name(link_name: str) -> str:
    """``link_X``/``nhl_X`` → ``X_hk`` (reference ``link_manager.py:157-159``)."""
    prefix_len = 5 if link_name.startswith("link_") else 4
    return f"{link_name[prefix_len:]}_hk"


def create_link_tables(
    spark: SparkSession, dv_db: str, table_columns: list[TableColumn]
) -> list[str]:
    """CREATE ``dv.link_{base}`` / ``dv.nhl_{base}`` from metadata
    (``rel_type`` ∈ {link, nhl}): hash key, audit columns, leg ``_hk``
    columns then ``_dk`` columns."""
    rows = [c for c in table_columns if c.rel_type in ("link", "nhl")]
    created = []
    for key, cols in group_records(rows, ["rel_type", "base_name"]).items():
        rel_type, base = key.split(".", 1)
        cols = sorted(cols, key=lambda c: c.column_position)
        hks = [
            f"{quote_ident(c.column_name + '_hk')} string"
            for c in cols
            if c.mapping == "ll"
        ]
        dks = [
            f"{quote_ident(c.column_name + '_dk')} {spark_type_for(c.column_type)}"
            for c in cols
            if c.mapping != "ll"
        ]
        name = f"{rel_type}_{base}"
        col_sql = ", ".join(hks + dks)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {dv_db}.{quote_ident(name)} "
            f"({quote_ident(base + '_hk')} string, {HUB_AUDIT}, {col_sql}) USING parquet"
        )
        created.append(name)
    return created


def load_links(
    spark: SparkSession,
    stg_db: str,
    dv_db: str,
    stg_table: str,
    transitions: list[TransitionRecord],
    run_id: int,
    record_source: str,
    load_dts: str,
) -> list[str]:
    """Load links fed by ``stg_table`` (``target_table`` LIKE 'link_%' or
    'nhl_%'): DISTINCT (link hk, leg hks, dks) minus already-present link
    keys, as a ``left_anti`` join append."""
    records = [
        r
        for r in transitions
        if r.target_table.startswith("link_") or r.target_table.startswith("nhl_")
    ]
    from mallarddv_spark.operators.parallel import run_per_table

    loaded = []
    tasks: dict[str, list] = {}
    for key, fields in group_records(records, ["target_table", "group_name"]).items():
        link_name, group_name = key.rsplit(".", 1)
        link_hk = _link_hk_name(link_name)

        def load_group(link_name=link_name, group_name=group_name,
                       link_hk=link_hk, fields=fields):
            src = spark.table(f"{stg_db}.{quote_ident(stg_table + '_hash_vw')}")
            # ll legs read the hub hash column '{source_field}_hk' from the
            # hash view; dk legs read the (transformed) source field itself.
            leg_cols = [
                F.col(
                    f.source_field + ("_hk" if f.transfer_type == "ll" else "")
                ).alias(f.target_field)
                for f in fields
            ]
            sub = src.select(
                F.col(f"{group_name}_hk").alias("hk"), *leg_cols
            ).distinct()
            existing = spark.table(f"{dv_db}.{quote_ident(link_name)}").select(
                F.col(link_hk).alias("hk")
            )
            new = sub.join(existing, on="hk", how="left_anti")
            out = new.select(
                F.col("hk"),
                F.lit(load_dts).cast("timestamp").alias("load_dts"),
                F.lit(record_source).alias("record_source"),
                F.lit(run_id).cast("int").alias("run_id"),
                *[F.col(f.target_field) for f in fields],
            )
            out.write.mode("append").insertInto(f"{dv_db}.{quote_ident(link_name)}")

        tasks.setdefault(link_name, []).append(load_group)
        loaded.append(f"{link_name}:{group_name}")
    failures = run_per_table(tasks)
    if failures:
        raise failures[0][1]
    return loaded
