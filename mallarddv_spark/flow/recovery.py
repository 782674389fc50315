"""Crash recovery: compensation-based rollback of torn flows.

The reference ran every load inside an embedded DuckDB so a crashed flow
could not tear a table (``db/database_connection.py:36-68``). On a parquet
catalog Spark gives per-JOB atomicity (a failed write commits nothing) but
a flow is SEVERAL jobs — a driver killed between the hub append and the
satellite append leaves the hub loaded and the satellite not.

The engine's load protocol makes this recoverable without a transaction
log:

* every DV row carries its ``run_id`` (audit columns);
* the run ledger writes a flow's 'start' + final-status rows in ONE append
  at flow END (``executor._end``) — so a killed flow leaves NO success row
  for its run_id;
* DV tables are insert-only.

Therefore: any ``run_id`` present in a DV table but absent from the
ledger's success rows is torn state, and removing exactly those rows
restores the pre-flow state ("rollback"). The flow is then re-runnable —
its input file was never marked ingested, so the idempotence probe lets it
through.

``rollback_runs`` rewrites each affected table via write-new → drop →
rename. The drop/rename pair is two catalog operations (the one
non-atomic seam left on a plain parquet catalog — a crash in between
leaves the data safe in the ``__rb`` table but the public name missing
until recovery re-runs). On Delta/Iceberg this whole module collapses to
``DELETE FROM t WHERE run_id IN (...)`` — one ACID statement per table.

Recovery is an explicit administrative action (``vault.recover()``), not
an automatic side effect: a flow that *failed* with an error list also
leaves partial state (matching reference behavior, where each SQL
statement committed independently), and whether to roll that back is the
operator's call.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession, functions as F

from mallarddv_spark.flow import runinfo
from mallarddv_spark.logging_utils import get_logger
from mallarddv_spark.functions.hashing import quote_ident

log = get_logger("recovery")

#: DV table-name prefixes whose rows carry run_id audit columns
_DV_PREFIXES = ("hub_", "link_", "nhl_", "hsat_", "lsat_")


def list_dv_tables(spark: SparkSession, dv_db: str) -> list[str]:
    """Hub/link/satellite tables in ``dv_db`` (views are derived state)."""
    out = []
    for t in spark.catalog.listTables(dv_db):
        if t.tableType == "VIEW":
            continue
        if t.name.startswith(_DV_PREFIXES):
            out.append(t.name)
    return out


def orphan_run_ids(
    spark: SparkSession, metadata_db: str, dv_db: str
) -> list[int]:
    """run_ids present in any DV table with NO ledger row at all — i.e.
    flows killed before their single end-of-flow ledger append. (A flow
    that *failed* writes 'start'+'failure' rows and deliberately keeps its
    partial state, matching the reference's per-statement commits; pass
    those run_ids to :func:`rollback_runs` explicitly if rollback is
    wanted.) One union-distinct scan over the run_id columns + one ledger
    scan."""
    tables = list_dv_tables(spark, dv_db)
    if not tables:
        return []
    ids = None
    for t in tables:
        cur = spark.table(f"{dv_db}.{quote_ident(t)}").select("run_id").distinct()
        ids = cur if ids is None else ids.unionByName(cur)
    dv_ids = {r.run_id for r in ids.distinct().collect()}
    known = {
        r.run_id
        for r in spark.table(f"{metadata_db}.runinfo")
        .select("run_id")
        .distinct()
        .collect()
    }
    return sorted(i for i in dv_ids if i is not None and i not in known)


def rollback_runs(
    spark: SparkSession,
    metadata_db: str,
    dv_db: str,
    run_ids: list[int],
) -> dict[str, int]:
    """Remove all rows belonging to ``run_ids`` from every DV table and
    record a 'rollback' ledger row per run.

    Per-table protocol: write surviving rows to ``{t}__rb`` → drop ``t`` →
    rename ``{t}__rb`` to ``t``. The full rewrite only happens for tables
    that actually contain orphan rows.

    Returns {table: rows_removed}.
    """
    if not run_ids:
        return {}
    removed: dict[str, int] = {}
    for t in list_dv_tables(spark, dv_db):
        fqn = f"{dv_db}.{quote_ident(t)}"
        df = spark.table(fqn)
        n_bad = df.filter(F.col("run_id").isin(run_ids)).count()
        if n_bad == 0:
            continue
        keep = df.filter(~F.col("run_id").isin(run_ids))
        rb = f"{dv_db}.{quote_ident(t + '__rb')}"
        spark.sql(f"DROP TABLE IF EXISTS {rb}")
        keep.write.mode("errorifexists").saveAsTable(rb)
        spark.sql(f"DROP TABLE {fqn}")
        spark.sql(f"ALTER TABLE {rb} RENAME TO {fqn}")
        removed[t] = n_bad
        log.warning("rolled back %d rows from %s", n_bad, fqn)

    now = datetime.now()
    runinfo.write_ledger_rows(
        spark,
        metadata_db,
        [
            (
                "",
                int(rid),
                now,
                None,
                "rollback",
                f"rolled back {sum(removed.values())} rows across "
                f"{len(removed)} tables",
            )
            for rid in run_ids
        ],
    )
    return removed


def recover_vault(
    spark: SparkSession, metadata_db: str, dv_db: str
) -> dict[str, int]:
    """Detect and roll back every torn (killed-before-success) run.

    Safe to run at any time; a no-op when the vault is consistent. After
    recovery, re-running the interrupted flow reproduces the intended
    state (its file was never marked ingested).
    """
    return rollback_runs(
        spark, metadata_db, dv_db, orphan_run_ids(spark, metadata_db, dv_db)
    )
