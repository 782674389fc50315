"""Satellite tables: DDL, SCD2-style history loads, current-value views.

A satellite is insert-only history keyed by (parent hash key, load_dts):
payload columns + ``del_flag`` soft deletes + ``hash_diff`` change detection
(reference ``satellite_manager.py``, CREATE_SAT / INSERT_SAT_NEW /
INSERT_SAT_DELETE / CREATE_CURRENT_VIEW templates).

The reference's change detection is a correlated ``NOT EXISTS ... ORDER BY
load_dts DESC LIMIT 1`` probe per staging row — Spark cannot correlate with
LIMIT, and at 100 TB you would not want to: the idiomatic equivalent (same
semantics, proven against the oracle on revert and delete/reinsert
histories) is a window ``row_number() = 1`` over the satellite to get the
latest version per key, then a join:

* **new rows**: insert a staging row unless the key's latest stored version
  has the same ``hash_diff`` AND is not deleted. (A row identical to a
  deleted latest version IS re-inserted — del/reinsert cycles resurrect.)
* **tombstones** (``sat_full`` only): latest non-deleted keys absent from
  the staging snapshot get a ``del_flag=true`` row carrying forward the old
  ``hash_diff`` and payload values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mallarddv_spark.functions.hashing import quote_ident
from mallarddv_spark.plans.model import TableColumn, TransitionRecord, group_records
from mallarddv_spark.plans.types import spark_type_for
from mallarddv_spark.exceptions import DVEntityError

SAT_AUDIT_COLS = ["load_dts", "del_flag", "hash_diff", "record_source", "run_id"]


def _sat_parts(cols: list[TableColumn]) -> tuple[str, list[TableColumn]]:
    """Split metadata rows into (hash-key column name, payload columns).

    Exactly one ``mapping='hk'`` row is required (reference raises
    DVEntityError, ``satellite_manager.py:106-107``). Payload order is the
    reference's GET_TABLES order: (mapping, column_position).
    """
    hks = [c for c in cols if c.mapping == "hk"]
    if len(hks) != 1:
        raise DVEntityError(
            f"satellite {cols[0].base_name} must have exactly one hub key, got {len(hks)}"
        )
    payload = sorted(
        (c for c in cols if c.mapping != "hk"),
        key=lambda c: (c.mapping, c.column_position),
    )
    return f"{hks[0].column_name}_hk", payload


def create_sat_tables(
    spark: SparkSession, dv_db: str, table_columns: list[TableColumn]
) -> list[str]:
    """CREATE ``dv.hsat_{base}`` / ``dv.lsat_{base}``."""
    rows = [c for c in table_columns if c.rel_type in ("hsat", "lsat")]
    created = []
    for key, cols in group_records(rows, ["rel_type", "base_name"]).items():
        rel_type, base = key.split(".", 1)
        hk_name, payload = _sat_parts(cols)
        payload_sql = "".join(
            f", {quote_ident(c.column_name)} {spark_type_for(c.column_type)}"
            for c in payload
        )
        name = f"{rel_type}_{base}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {dv_db}.{quote_ident(name)} ("
            f"{quote_ident(hk_name)} string, load_dts timestamp, del_flag boolean, "
            f"hash_diff string, record_source string, run_id int{payload_sql}"
            f") USING parquet"
        )
        created.append(name)
    return created


def create_current_views(
    spark: SparkSession, dv_db: str, bv_db: str, table_columns: list[TableColumn]
) -> list[str]:
    """``bv.{sat}_cv``: the latest version per key (row_number over load_dts
    DESC). We add ``run_id DESC`` as a deterministic tiebreaker — the
    reference's window has no tiebreaker and is nondeterministic on equal
    load_dts (``db/sql_templates.py:144``)."""
    rows = [c for c in table_columns if c.rel_type in ("hsat", "lsat")]
    created = []
    for key, cols in group_records(rows, ["rel_type", "base_name"]).items():
        rel_type, base = key.split(".", 1)
        hk_name, payload = _sat_parts(cols)
        sat = f"{rel_type}_{base}"
        all_cols = ", ".join(
            quote_ident(c)
            for c in [hk_name, *SAT_AUDIT_COLS, *[p.column_name for p in payload]]
        )
        spark.sql(
            f"CREATE OR REPLACE VIEW {bv_db}.{quote_ident(sat + '_cv')} AS "
            f"SELECT {all_cols} FROM ("
            f"  SELECT *, row_number() OVER ("
            f"    PARTITION BY {quote_ident(hk_name)} "
            f"    ORDER BY load_dts DESC, run_id DESC) AS r "
            f"  FROM {dv_db}.{quote_ident(sat)}) x WHERE x.r = 1"
        )
        created.append(f"{sat}_cv")
    return created


def _latest_versions(sat_df: DataFrame, hk_col: str) -> DataFrame:
    w = Window.partitionBy(hk_col).orderBy(
        F.desc("load_dts"), F.desc("run_id")
    )
    return (
        sat_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _latest_set(sat_df: DataFrame, hk_col: str) -> DataFrame:
    """ALL rows sharing the key's max load_dts (usually one; several only
    when a single load wrote conflicting versions of a key). Using the set
    instead of an arbitrary tie-pick makes change detection deterministic."""
    w = Window.partitionBy(hk_col)
    return (
        sat_df.withColumn("__mx", F.max("load_dts").over(w))
        .filter(F.col("load_dts") == F.col("__mx"))
        .drop("__mx")
    )


def load_sats(
    spark: SparkSession,
    stg_db: str,
    dv_db: str,
    stg_table: str,
    transitions: list[TransitionRecord],
    run_id: int,
    record_source: str,
    load_dts: str,
) -> list[str]:
    """Run every ``sat_delta`` / ``sat_full`` transition for ``stg_table``.

    Mirrors ``satellite_manager.load_related_sats``: for each sat transition,
    insert changed/new versions; for ``sat_full`` additionally insert
    tombstones for keys that disappeared from the staging snapshot.
    """
    sat_loads = [r for r in transitions if r.transfer_type in ("sat_delta", "sat_full")]
    loaded = []
    for sat in sat_loads:
        group = sat.group_name
        fields = [
            r
            for r in transitions
            if r.target_table == sat.target_table
            and r.group_name == group
            and r.transfer_type == "f"
        ]
        sat_name = sat.target_table
        sat_hk = f"{sat.target_field}_hk"
        # payload-less satellites store the hash key itself as the hash_diff
        # (reference ``satellite_manager.py:271``)
        hashdiff_col = f"{group}_hashdiff" if fields else sat.source_field

        sat_table = f"{dv_db}.{quote_ident(sat_name)}"
        table_schema = spark.table(sat_table).schema
        src = spark.table(f"{stg_db}.{quote_ident(stg_table + '_hash_vw')}")

        incoming = src.select(
            F.col(sat.source_field).alias(sat_hk),
            F.lit(load_dts).cast("timestamp").alias("load_dts"),
            F.lit(False).alias("del_flag"),
            F.col(hashdiff_col).alias("hash_diff"),
            F.lit(record_source).alias("record_source"),
            F.lit(run_id).cast("int").alias("run_id"),
            *[F.col(f.source_field).alias(f.target_field) for f in fields],
        ).distinct()

        latest = _latest_set(spark.table(sat_table), sat_hk)

        # --- new/changed versions ---
        # Skip an incoming row iff SOME latest (max-load_dts) stored version
        # has the same hash_diff and is not deleted — expressed as an
        # anti-join on (hk, hash_diff). With a unique latest row this is
        # exactly the reference's NOT EXISTS probe; when a batch wrote
        # several versions of one key at the same load_dts (tied latest),
        # the reference's LIMIT-1 pick is nondeterministic — treating the
        # whole tied set as "latest" is the deterministic, idempotent
        # resolution (a re-load of any of those payloads inserts nothing).
        blockers = latest.filter(~F.col("del_flag")).select(
            F.col(sat_hk), F.col("hash_diff")
        )
        new_rows = incoming.join(
            blockers, on=[sat_hk, "hash_diff"], how="left_anti"
        )
        _append_aligned(new_rows, table_schema, sat_table)

        # --- tombstones for sat_full ---
        if sat.transfer_type == "sat_full":
            # exactly one tombstone per disappeared key: use the single
            # latest version (deterministic run_id tiebreak), not the tied
            # set used for change detection
            latest_alive = _latest_versions(
                spark.table(sat_table), sat_hk
            ).filter(~F.col("del_flag"))
            present = src.select(F.col(sat.source_field).alias(sat_hk)).distinct()
            gone = latest_alive.join(present, on=sat_hk, how="left_anti")
            tomb = gone.select(
                F.col(sat_hk),
                F.lit(load_dts).cast("timestamp").alias("load_dts"),
                F.lit(True).alias("del_flag"),
                F.col("hash_diff"),
                F.lit(record_source).alias("record_source"),
                F.lit(run_id).cast("int").alias("run_id"),
                *[F.col(f.target_field) for f in fields],
            ).distinct()
            _append_aligned(tomb, table_schema, sat_table)

        loaded.append(f"{sat_name}:{group}")
    return loaded


def _append_aligned(df: DataFrame, table_schema, table_fqn: str) -> None:
    """Append ``df`` to the table, aligning by name to the table's column
    order and NULL-filling declared columns the transitions don't feed
    (reference behavior: such columns exist and stay NULL)."""
    have = {c.lower() for c in df.columns}
    out = df.select(
        *[
            F.col(f.name)
            if f.name.lower() in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in table_schema.fields
        ]
    )
    out.write.mode("append").insertInto(table_fqn)
