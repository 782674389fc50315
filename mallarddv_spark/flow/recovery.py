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
through. The next flow never reuses a torn id: the executor's first flow
allocates above the DV tables' max(run_id) as well as the ledger's, so the
torn rows stay orphans until ``recover()`` removes them.

A flow's hub, link and satellite stages run concurrently, so a kill can
land in any stage, and can tear any subset of the flow's tables — even an
append mid-commit. An append killed before its job commit leaves no rows
but a ``_temporary`` directory, which the next append to that table would
commit along with its own files; ``recover()`` purges those first.

``rollback_runs`` rewrites each affected table via write-new → drop →
rename. The drop/rename pair is two catalog operations (the one
non-atomic seam left on a plain parquet catalog — a crash in between
leaves the data safe in the ``__rb`` table but the public name missing
until recovery re-runs). On Delta/Iceberg this whole module collapses to
``DELETE FROM t WHERE run_id IN (...)`` — one ACID statement per table.

Recovery is an explicit administrative action (``vault.recover()``), not
an automatic side effect: a flow that *failed* with an error list also
leaves partial state — from any stage, since a failing stage does not stop
the others (the reference's statements likewise committed independently)
— and whether to roll that back with :func:`rollback_runs` is the
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


def purge_uncommitted_writes(spark: SparkSession, dv_db: str) -> list[str]:
    """Delete the ``_temporary`` directory that an append killed before
    its job commit leaves in a DV table's location; returns the tables
    purged. Hadoop's file output committer merges EVERY committed task
    directory under ``_temporary/0`` at the next job commit to the same
    path, so without this a torn append's rows would reappear, under the
    torn run id, with the next flow's append to that table — after
    ``recover()`` had already run. Only safe with no write in flight (the
    single-writer contract; recovery is an explicit action)."""
    from mallarddv_spark.sources.layout import dir_fs, table_location

    purged = []
    for t in list_dv_tables(spark, dv_db):
        loc = table_location(spark, f"{dv_db}.{quote_ident(t)}")
        fs, tmp = dir_fs(spark, loc.rstrip("/") + "/_temporary")
        if fs.exists(tmp):
            fs.delete(tmp, True)
            purged.append(t)
            log.warning("purged an uncommitted write from %s.%s", dv_db, t)
    return purged


def recover_vault(spark: SparkSession, metadata_db: str, dv_db: str) -> dict:
    """Detect and roll back every torn (killed-before-success) run, after
    purging the leftovers of appends killed before their commit.

    Safe to run at any time; a no-op when the vault is consistent. After
    recovery, re-running the interrupted flow reproduces the intended
    state (its file was never marked ingested). Returns {table:
    rows_removed}, plus ``"<table> (uncommitted write)": "purged"``.
    """
    purged = purge_uncommitted_writes(spark, dv_db)
    out: dict = rollback_runs(
        spark, metadata_db, dv_db, orphan_run_ids(spark, metadata_db, dv_db)
    )
    out.update({f"{t} (uncommitted write)": "purged" for t in purged})
    return out
