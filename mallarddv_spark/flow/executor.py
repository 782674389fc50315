"""End-to-end load orchestration (the reference's FlowExecutor,
``etl/flow_executor.py:59-253``).

Stage order, error behavior, and the run ledger protocol are part of the
public contract:

1. torn-state and idempotence check: an executor's first flow refuses to
   run while a DV table holds rows of a run the ledger never recorded (a
   killed flow — ``vault.recover()`` removes them); files already
   ingested are skipped unless force_load
2. run-id allocation
3. file → staging (only if the source has a staging-table definition)
4. hash view refresh (steps 1–4 each abort the flow on error)
5. hub, link and satellite loads start together: no load reads another
   stage's table (links read only the hash view, satellites the hash view
   and their own history), so the hub → link → satellite order of the
   reference is an ordering, not a dependency. Loads of one table stay
   ordered. A failing stage does not stop the other two; every stage
   failure is reported, in the order hubs, links, sats. A failed flow may
   therefore leave partial state from ANY stage — its ledger row says
   'failure', and ``rollback_runs`` is the operator's tool to undo it.
6. ledger write: 'start' + 'success'/'failure' rows land in ONE append at
   flow end — the only barrier after the stages start.

Bookkeeping is batched for orchestration throughput (a metadata-driven
flow is dozens of small Spark jobs; at cluster scale the data jobs
amortize but the driver-side jobs do not): the idempotence probe and
run-id allocation share one ledger scan, control-table reads come from a
driver-side :class:`~mallarddv_spark.plans.model.MetadataCache`, and the
two ledger events are a single 2-row append. Divergence from the
reference (which wrote 'start' eagerly): a killed driver leaves NO ledger
rows instead of a dangling 'start' — the idempotence probe only reads
'success' rows, so replay behavior is identical, and a torn flow is
re-runnable either way.

Errors are collected as (stage, message) tuples, not raised — matching the
reference's error-list convention so callers can assert ``errors == []``.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import SparkSession, functions as F

from mallarddv_spark.flow import recovery, runinfo
from mallarddv_spark.functions.hashing import quote_ident
from mallarddv_spark.logging_utils import get_logger
from mallarddv_spark.operators import hashview, hub, link, parallel, satellite
from mallarddv_spark.plans.model import MetadataCache
from mallarddv_spark.sources import readers


log = get_logger("flow")


class FlowExecutor:
    def __init__(
        self,
        spark: SparkSession,
        stg_db: str = "stg",
        dv_db: str = "dv",
        bv_db: str = "bv",
        metadata_db: str = "metadata",
        hash_algo: str = "sha1",
        metadata: MetadataCache | None = None,
    ):
        self.spark = spark
        self.stg_db = stg_db
        self.dv_db = dv_db
        self.bv_db = bv_db
        self.metadata_db = metadata_db
        self.hash_algo = hash_algo
        #: control-table snapshot, shared with the owning facade so
        #: init_vault + N flows pay for the metadata collects once
        self.metadata = metadata or MetadataCache(spark, metadata_db)
        #: hash-view DDL memo (db.table → issued view SQL): repeat flows
        #: with unchanged metadata skip the CREATE OR REPLACE round-trip.
        #: Discarded by the facade on init_vault (catalog may be rebuilt).
        self.hashview_issued: dict[str, str] = {}
        #: flow serialization: run ids are a GLOBAL max+1 over the ledger
        #: (reference GET_RUN_ID contract), so two flows racing the probe
        #: would share a run_id — and rollback_run(run_id) would then
        #: cross-delete both flows' rows. Same-vault flows therefore
        #: serialize on this lock (caller threads just queue); the
        #: catalog-level contract remains SINGLE WRITER per metadata_db —
        #: separate processes must coordinate externally (on Delta/Iceberg
        #: the ledger append becomes a transactional conflict instead).
        import threading

        self._flow_lock = threading.Lock()
        #: highest run id known taken. None until the first flow (and again
        #: after a metadata reload), whose ledger probe also folds in the
        #: DV tables' max(run_id): a flow killed before its ledger append
        #: leaves rows under an id the ledger never saw, and allocating
        #: that id again would let the next success row adopt them. Later
        #: flows allocate above this mark and the ledger max (flows
        #: serialize on _flow_lock; single writer per metadata_db). While
        #: it is None every flow also checks for such orphan ids and is
        #: refused until recover() removes them.
        self.run_hwm: int | None = None

    def execute_flow(
        self,
        source_table: str,
        record_source: str,
        file_path: str | None = None,
        load_date_overwrite: str | None = None,
        force_load: bool = False,
        verbose: bool = False,
        file_type: str | None = None,
        expectations: list | None = None,
        quarantine_table: str | None = None,
    ) -> list[tuple[str, str]]:
        # same-vault flows serialize (see _flow_lock rationale in __init__)
        with self._flow_lock:
            return self._execute_flow(
                source_table, record_source, file_path, load_date_overwrite,
                force_load, verbose, file_type, expectations, quarantine_table,
            )

    def _execute_flow(
        self,
        source_table: str,
        record_source: str,
        file_path: str | None = None,
        load_date_overwrite: str | None = None,
        force_load: bool = False,
        verbose: bool = False,
        file_type: str | None = None,
        expectations: list | None = None,
        quarantine_table: str | None = None,
    ) -> list[tuple[str, str]]:
        spark = self.spark
        errors: list[tuple[str, str]] = []
        log.info("flow start: %s (source=%s, file=%s)", source_table, record_source, file_path)

        # 1-2. idempotence probe + run-id allocation (one ledger scan)
        try:
            dv_tables = []
            if self.run_hwm is None and spark.catalog.databaseExists(self.dv_db):
                dv_tables = [
                    f"{self.dv_db}.{quote_ident(t)}"
                    for t in recovery.list_dv_tables(spark, self.dv_db)
                ]
            ingested, run_id, orphans = runinfo.probe_ledger(
                spark,
                self.metadata_db,
                source_table,
                file_path if (file_path and not force_load) else None,
                dv_tables=dv_tables,
            )
            if orphans:
                # a killed flow's rows: building on them would leave the
                # vault wrong even after recover() (its anti-joins and
                # change detection would read rows recovery then deletes)
                msg = (
                    f"torn state: run id(s) {orphans} reached {self.dv_db} "
                    "with no ledger row (a killed flow); run vault.recover() "
                    "before the next flow"
                )
                log.error("flow refused: %s — %s", source_table, msg)
                return [("torn_state", msg)]
            run_id = max(run_id, (self.run_hwm or 0) + 1)
            self.run_hwm = run_id - 1 if ingested else run_id
            if ingested:
                log.info("%s already ingested for %s — skipping", file_path, source_table)
                if verbose:
                    print(f"{file_path} already ingested for {source_table}")
                return errors
        except Exception as ex:
            return [("check_previous_ingestion", str(ex))]

        # Convention divergence from the reference (documented): the
        # reference interpolates load_date_overwrite as a SQL *expression*
        # (callers pass "'2025-01-01'", quotes included —
        # etl/flow_executor.py). Here it is a BARE timestamp string cast via
        # F.lit(...).cast('timestamp'); a reference-style quoted value would
        # cast to NULL in non-ANSI mode and silently corrupt satellite
        # window ordering, so reject anything Spark cannot parse up front.
        load_dts = load_date_overwrite or datetime.now(timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        if load_date_overwrite is not None:
            try:
                parsed = spark.sql(
                    "SELECT try_cast(? as timestamp) ts", args=[load_date_overwrite]
                ).first()[0]
            except Exception as ex:
                errors.append(("validate_load_date", str(ex)))
                self._end(source_table, run_id, file_path, errors)
                return errors
            if parsed is None:
                errors.append(
                    (
                        "validate_load_date",
                        f"load_date_overwrite {load_date_overwrite!r} does not "
                        "parse as a timestamp; pass a bare string like "
                        "'2025-01-01 00:00:00' (no SQL quotes)",
                    )
                )
                self._end(source_table, run_id, file_path, errors)
                return errors

        # 3. file → staging
        if file_path:
            try:
                if self.metadata.has_staging_definition(source_table):
                    cols = self.metadata.table_columns(
                        base_name=source_table, rel_type="stg"
                    )
                    readers.load_file_to_staging(
                        spark, self.stg_db, source_table, file_path, cols,
                        file_type=file_type,
                    )
            except Exception as ex:
                errors.append(("load_file_to_staging", str(ex)))
                self._end(source_table, run_id, file_path, errors)
                return errors

        # 3b. optional ingestion quality gate: data-contract expectations
        # evaluated against the loaded staging table BEFORE any DV load.
        # Default (no quarantine_table): a violated contract aborts the
        # flow (ledger row 'failure', no partial vault state) — the only
        # safe default for a vault, where bad staging rows become
        # immutable history. With quarantine_table set: violating rows are
        # appended there (dead-letter, extra `violated_rules` column) and
        # the flow proceeds over the clean remainder.
        if expectations:
            try:
                if quarantine_table:
                    from mallarddv_spark.operators.expectations import (
                        split_by_expectations,
                    )

                    stg = spark.table(f"{self.stg_db}.{source_table}")
                    good, bad = split_by_expectations(stg, expectations)
                    # checkpoint both BEFORE touching staging: they read
                    # the table we are about to overwrite
                    bad_cp = bad.localCheckpoint(eager=True)
                    n_bad = bad_cp.count()
                    if n_bad:
                        good_cp = good.localCheckpoint(eager=True)
                        # File replays are idempotent: a retried flow
                        # (crash after this append, before the ledger row)
                        # re-derives the SAME bad rows from the same file,
                        # so prior dead-letter rows for this (source, file)
                        # are replaced, not duplicated. Non-file flows
                        # have no stable replay identity — their
                        # dead-letter is at-least-once by design.
                        if spark.catalog.tableExists(quarantine_table):
                            # legacy dead-letter tables predate the
                            # identity columns — widen them (existing
                            # rows read NULL) so the append below fits
                            existing_cols = spark.table(
                                quarantine_table
                            ).columns
                            if "quarantined_file" not in existing_cols:
                                spark.sql(
                                    f"ALTER TABLE {quarantine_table} ADD "
                                    "COLUMNS (quarantined_source string, "
                                    "quarantined_file string)"
                                )
                            if file_path:
                                self._purge_quarantined_file(
                                    quarantine_table, source_table, file_path
                                )
                        # casts: F.lit(None) is VOID-typed and would pin
                        # the table's column type on first create
                        bad_cp.withColumn(
                            "quarantined_run_id", F.lit(run_id)
                        ).withColumn(
                            "quarantined_source",
                            F.lit(source_table).cast("string"),
                        ).withColumn(
                            "quarantined_file",
                            F.lit(file_path).cast("string"),
                        ).write.mode("append").saveAsTable(quarantine_table)
                        good_cp.write.mode("overwrite").insertInto(
                            f"{self.stg_db}.{source_table}", overwrite=True
                        )
                        log.warning(
                            "quality gate quarantined %d row(s) of %s into %s",
                            n_bad, source_table, quarantine_table,
                        )
                else:
                    from mallarddv_spark.operators.expectations import (
                        run_expectations,
                    )

                    report = run_expectations(
                        spark.table(f"{self.stg_db}.{source_table}"),
                        expectations,
                    )
                    failed = [
                        f"{r.rule} ({r.violations}/{r.total} rows)"
                        for r in report.collect()
                        if not r.passed
                    ]
                    if failed:
                        errors.append(("quality_gate", "; ".join(failed)))
                        self._end(source_table, run_id, file_path, errors)
                        return errors
            except Exception as ex:
                errors.append(("quality_gate", str(ex)))
                self._end(source_table, run_id, file_path, errors)
                return errors

        transitions = self.metadata.transitions(source_table)

        # 4. hash view — first warn about float-typed hash inputs: Spark
        # and DuckDB render double >= 1e7 differently (scientific vs
        # plain; see functions/hashing.py), so a raw float feeding a hash
        # key silently breaks cross-engine key parity. The fix is a
        # cast-to-decimal metadata transformation.
        try:
            stg_types = {
                c.column_name: (c.column_type or "").upper()
                for c in self.metadata.table_columns(
                    base_name=source_table, rel_type="stg"
                )
            }
            for tr in transitions:
                t = stg_types.get(tr.source_field, "")
                if (
                    not tr.raw
                    and ("FLOAT" in t or "DOUBLE" in t or t == "REAL")
                    and "cast" not in (tr.transformation or "").lower()
                ):
                    log.warning(
                        "hash input %s.%s is %s: floating-point string "
                        "rendering differs across engines — add a "
                        "cast(# as decimal(...)) transformation to keep "
                        "hash keys portable",
                        source_table, tr.source_field, t,
                    )
        except Exception:  # advisory only — never block the flow
            log.debug("float hash-input check skipped for %s", source_table,
                      exc_info=True)
        try:
            hashview.create_hash_view(
                spark, self.stg_db, source_table, transitions,
                algo=self.hash_algo, verbose=verbose,
                issued=self.hashview_issued,
            )
        except Exception as ex:
            errors.append(("compute_hash_view", str(ex)))
            self._end(source_table, run_id, file_path, errors)
            return errors

        # 5. hubs, links and sats start together (module docstring). The
        # hash view is NOT cached: each load stage reads it through parquet
        # column pruning, so a hub load scans only its business-key columns
        # and computes only its own hash — measured ~0.2 s per consumer at
        # 600 k rows, versus ~8 s to materialize the full wide view into the
        # block cache. At 100 TB the same holds structurally: the staging
        # scan is columnar and pruned per consumer, while caching the
        # full-width view would not fit cluster memory at all.
        stage_args = (
            spark, self.stg_db, self.dv_db, source_table, transitions,
            run_id, record_source, load_dts,
        )
        sc = spark.sparkContext
        tag = f"flow={source_table} run={run_id}"

        def stage(name, fn):
            # every Spark job of the stage (its per-table threads inherit
            # the property) is labelled in the UI and the event log
            def run():
                sc.setJobDescription(f"{tag} stage={name}")
                try:
                    fn(*stage_args)
                finally:
                    sc.setJobDescription(None)

            return [run]

        failures = parallel.run_per_table({
            "load_hubs": stage("load_hubs", hub.load_hubs),
            "load_links": stage("load_links", link.load_links),
            "load_sats": stage("load_sats", satellite.load_sats),
        })
        errors.extend((name, str(ex)) for name, ex in failures)

        self._end(source_table, run_id, file_path, errors)
        return errors

    def _purge_quarantined_file(
        self, quarantine_table: str, source_table: str, file_path: str
    ) -> None:
        """Drop prior dead-letter rows for one (source, file) before a
        replay re-appends them (the quarantine-append idempotence half of
        the flow's replay contract). The rewrite uses the crash-safe
        staged-rename swap (``layout.rewrite_table(staged=True)``) and
        heals its own leftovers first, so a crash mid-purge never loses
        the dead-letter history — a torn swap resolves on the next
        replay (or via ``layout.heal_compaction(quarantine_table)``).
        No-op for tables predating the ``quarantined_file`` column or
        holding no rows for this file."""
        from mallarddv_spark.sources.layout import (
            heal_compaction,
            rewrite_table,
        )

        spark = self.spark
        action = heal_compaction(spark, quarantine_table)
        if action:
            log.warning(
                "healed torn dead-letter purge on %s: %s",
                quarantine_table, action,
            )
        existing = spark.table(quarantine_table)
        if "quarantined_file" not in existing.columns:
            return
        # null-SAFE identity match: legacy rows (pre-widening) and rows
        # from non-file flows carry NULL quarantined_source/_file — a
        # plain `==` evaluates NULL for them, and `~NULL` is NULL, so
        # `.filter(~mine)` would silently drop them from the rewrite.
        # eqNullSafe makes NULL-identity rows definitively "not mine".
        mine = F.col("quarantined_source").eqNullSafe(
            F.lit(source_table)
        ) & F.col("quarantined_file").eqNullSafe(F.lit(file_path))
        n_prior = existing.filter(mine).count()
        if not n_prior:
            return
        keep = existing.filter(~mine).localCheckpoint(eager=True)
        rewrite_table(spark, quarantine_table, keep, staged=True, spec=None)
        log.info(
            "replaced %d previously quarantined row(s) of %s for replayed %s",
            n_prior, source_table, file_path,
        )

    def _end(self, source_table, run_id, file_path, errors) -> None:
        """Write the flow's ledger rows — 'start' + final status — in one
        append (see module docstring for the crash-semantics note)."""
        if errors:
            log.error("flow failed: %s run=%s errors=%s", source_table, run_id, errors)
        else:
            log.info("flow success: %s run=%s", source_table, run_id)
        message = ""
        if errors:
            message = f"{len(errors)} errors occurred: {errors[0][1]}"
            if len(errors) > 1:
                message += f" and {len(errors) - 1} more"
        now = datetime.now()
        try:
            runinfo.write_ledger_rows(
                self.spark,
                self.metadata_db,
                [
                    (source_table, run_id, now, file_path, "start", ""),
                    (
                        source_table,
                        run_id,
                        now,
                        file_path,
                        "success" if not errors else "failure",
                        message[:4095],
                    ),
                ],
            )
        except Exception as ex:
            # a lost ledger row must not fail the flow (the reference
            # tolerated ledger errors too), but it must not vanish either:
            # the flow's rows are now torn state, so the next flow checks
            # for orphans again and is refused until recover()
            log.warning(
                "ledger write failed for %s run=%s: %s — flow outcome not "
                "durably recorded (run vault.recover() before the next flow)",
                source_table, run_id, ex,
            )
            self.run_hwm = None
            errors.append(("write_runinfo", str(ex)))
