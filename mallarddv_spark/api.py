"""Public facade: :class:`MallardSparkVault`.

Method names/signatures mirror the reference's ``MallardDataVault``
(``mallarddv/mallarddv.py:87-423``) so existing flows port 1:1; the engine
underneath is pure Spark (DataFrame/SQL on catalog tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mallarddv_spark.flow.executor import FlowExecutor
from mallarddv_spark.operators import hashview, hub, link, satellite
from mallarddv_spark.plans.model import MetadataCache
from mallarddv_spark.sources import catalog


class MallardSparkVault:
    """Metadata-driven Data Vault on Spark.

    Usage::

        vault = MallardSparkVault(spark, scripts_path="models")
        vault.init_vault("tables.csv", "transitions.csv")
        errors = vault.execute_flow("customer", "crm", "data/customer.csv")
        vault.sql("SELECT * FROM bv.hsat_customer_details_cv").show()
    """

    def __init__(
        self,
        spark: SparkSession,
        scripts_path: str | None = None,
        stg_db: str = "stg",
        dv_db: str = "dv",
        bv_db: str = "bv",
        dm_db: str = "dm",
        metadata_db: str = "metadata",
        hash_algo: str = "sha1",
    ):
        self.spark = spark
        self.scripts_path = scripts_path
        self.stg_db = stg_db
        self.dv_db = dv_db
        self.bv_db = bv_db
        self.dm_db = dm_db
        self.metadata_db = metadata_db
        self.hash_algo = hash_algo
        #: driver-side control-table snapshot shared by init + every flow
        #: (invalidated whenever metadata CSVs are (re)loaded here)
        self._meta = MetadataCache(spark, metadata_db)
        self._executor = FlowExecutor(
            spark, stg_db, dv_db, bv_db, metadata_db, hash_algo,
            metadata=self._meta,
        )

    # -- context manager (reference ``mallarddv.py:64-85``) -----------------
    # The reference closes its embedded DuckDB on exit; a SparkSession is a
    # shared resource the vault does not own, so exit is a no-op.

    def __enter__(self) -> "MallardSparkVault":
        return self

    def __exit__(self, exc_type, exc_val, exc_tb) -> None:
        return None

    # -- DDL / init ---------------------------------------------------------

    def init_vault(
        self,
        tables_csv: str | None = None,
        transitions_csv: str | None = None,
        meta_only: bool = False,
        verbose: bool = False,
    ) -> list[tuple[str, str]]:
        """Create databases + control tables, load metadata CSVs, then create
        every staging/hub/link/sat table, current views, and apply user view
        scripts — the reference's ``init_mallard_db`` (``mallarddv.py:100-172``).
        """
        errors: list[tuple[str, str]] = []
        catalog.ensure_databases(
            self.spark,
            (self.stg_db, self.dv_db, self.bv_db, self.dm_db, self.metadata_db),
        )
        catalog.ensure_metadata_tables(self.spark, self.metadata_db)
        self.overwrite_metadata_from_files(tables_csv, transitions_csv)
        if meta_only:
            return errors

        cols = self._meta.table_columns()
        try:
            # staging/hub/link/sat DDL touch disjoint tables — issue the
            # four groups concurrently (each is a chain of serial driver
            # round trips). Current views analyze against the sat tables
            # at CREATE time, so they stay after the pool.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=4) as pool:
                futs = [
                    pool.submit(
                        catalog.create_staging_tables,
                        self.spark, self.stg_db, cols,
                    ),
                    pool.submit(
                        hub.create_hub_tables, self.spark, self.dv_db, cols,
                    ),
                    pool.submit(
                        link.create_link_tables, self.spark, self.dv_db, cols,
                    ),
                    pool.submit(
                        satellite.create_sat_tables, self.spark, self.dv_db, cols,
                    ),
                ]
                # collect every group's failure, not just the first
                # future's: concurrent siblings run to completion either
                # way, and a partial init is easier to diagnose with all
                # of them recorded
                ddl_errs = [str(ex) for ex in
                            (f.exception() for f in futs) if ex is not None]
                if ddl_errs:
                    raise RuntimeError("; ".join(ddl_errs))
            satellite.create_current_views(self.spark, self.dv_db, self.bv_db, cols)
        except Exception as ex:
            errors.append(("init_vault_ddl", str(ex)))
            return errors
        if self.scripts_path:
            errors.extend(
                catalog.apply_script_files(self.spark, self.scripts_path, cols, verbose)
            )
        return errors

    def compute_hash_view(self, stg_table: str, verbose: bool = False) -> str:
        transitions = self._meta.transitions(stg_table)
        return hashview.create_hash_view(
            self.spark, self.stg_db, stg_table, transitions,
            algo=self.hash_algo, verbose=verbose,
        )

    # -- flows --------------------------------------------------------------

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
        return self._executor.execute_flow(
            source_table, record_source, file_path,
            load_date_overwrite, force_load, verbose,
            file_type=file_type, expectations=expectations,
            quarantine_table=quarantine_table,
        )

    # -- granular DDL/load API (1:1 with the reference facade,
    #    ``mallarddv.py:174-423``) ------------------------------------------

    def _cols(self, base_name=None, rel_type=None):
        return self._meta.table_columns(base_name=base_name, rel_type=rel_type)

    def create_hub_from_metadata(self, base_name: str | None = None):
        return hub.create_hub_tables(
            self.spark, self.dv_db, self._cols(base_name, "hub")
        )

    def create_link_from_metadata(self, base_name=None, rel_type=None):
        cols = (
            self._cols(base_name, rel_type)
            if rel_type
            else self._cols(base_name, "link") + self._cols(base_name, "nhl")
        )
        return link.create_link_tables(self.spark, self.dv_db, cols)

    def create_sat_from_metadata(self, base_name=None, rel_type=None):
        cols = (
            self._cols(base_name, rel_type)
            if rel_type
            else self._cols(base_name, "hsat") + self._cols(base_name, "lsat")
        )
        return satellite.create_sat_tables(self.spark, self.dv_db, cols)

    def create_current_sat_from_metadata(self, base_name=None, rel_type=None):
        cols = (
            self._cols(base_name, rel_type)
            if rel_type
            else self._cols(base_name, "hsat") + self._cols(base_name, "lsat")
        )
        return satellite.create_current_views(self.spark, self.dv_db, self.bv_db, cols)

    def create_staging_table_from_metadata(self, base_name: str | None = None):
        return catalog.create_staging_tables(
            self.spark, self.stg_db, self._cols(base_name, "stg")
        )

    def apply_script_from_metadata(self, verbose: bool = False):
        if not self.scripts_path:
            return []
        return catalog.apply_script_files(
            self.spark, self.scripts_path, self._cols(rel_type="stg_vw"), verbose
        )

    def load_related_hubs(self, stg_table, run_id, record_source, load_date):
        transitions = self._meta.transitions(stg_table)
        return hub.load_hubs(
            self.spark, self.stg_db, self.dv_db, stg_table, transitions,
            run_id, record_source, load_date,
        )

    def load_related_links(self, stg_table, run_id, record_source, load_date):
        transitions = self._meta.transitions(stg_table)
        return link.load_links(
            self.spark, self.stg_db, self.dv_db, stg_table, transitions,
            run_id, record_source, load_date,
        )

    def load_related_sats(self, stg_table, run_id, record_source, load_date):
        transitions = self._meta.transitions(stg_table)
        return satellite.load_sats(
            self.spark, self.stg_db, self.dv_db, stg_table, transitions,
            run_id, record_source, load_date,
        )

    def load_file_to_staging(self, source_table: str, file_path: str,
                             file_type: str | None = None):
        from mallarddv_spark.sources import readers

        cols = self._cols(source_table, "stg")
        readers.load_file_to_staging(
            self.spark, self.stg_db, source_table, file_path, cols, file_type
        )

    def overwrite_metadata_from_files(self, tables_csv=None, transitions_csv=None):
        catalog.load_metadata_csvs(
            self.spark, self.metadata_db, tables_csv, transitions_csv
        )
        self._meta.invalidate()
        # the catalog may be (re)built after a metadata reload — the
        # hash-view DDL memo must not suppress re-creation against it, and
        # the next flow re-reads the DV tables' run ids
        self._executor.hashview_issued.clear()
        self._executor.run_hwm = None

    # -- crash recovery -----------------------------------------------------

    def recover(
        self,
        minhash_index_paths: list[str] | None = None,
        ivf_index_paths: list[str] | None = None,
        bloom_paths: list[str] | None = None,
        bm25_index_paths: list[str] | None = None,
    ) -> dict[str, int]:
        """Roll back every torn (killed-mid-flow) run: DV rows whose run_id
        never reached the ledger are removed. The reference needed no
        equivalent — DuckDB gave it transactions
        (``db/database_connection.py:36-68``); on a parquet catalog this
        compensation pass is the stand-in (on Delta/Iceberg it becomes one
        ``DELETE`` per table). Returns {table: rows_removed},
        plus ``"<table> (compaction)": <action>`` entries for any
        compaction that was interrupted mid-swap and healed first (healing
        runs before rollback so a restored table participates in it).

        ``minhash_index_paths`` / ``ivf_index_paths`` / ``bloom_paths`` /
        ``bm25_index_paths``: on-disk indexes and stored Bloom filters
        to sweep for torn staged-rename swaps (they live at
        caller-chosen paths, not in the catalog, so recovery can't
        discover them). Optional — all of them also self-heal on next
        open.
        """
        from mallarddv_spark.flow.recovery import recover_vault
        from mallarddv_spark.functions.bloom import heal_bloom
        from mallarddv_spark.operators.dedup import heal_minhash_index
        from mallarddv_spark.operators.retrieval import heal_bm25_index
        from mallarddv_spark.operators.similarity import heal_ivf_index
        from mallarddv_spark.sources.layout import heal_all_compactions

        healed = heal_all_compactions(self.spark, self.dv_db)
        out: dict = recover_vault(self.spark, self.metadata_db, self.dv_db)
        out.update({f"{t} (compaction)": a for t, a in healed.items()})
        for paths, heal in (
            (minhash_index_paths, heal_minhash_index),
            (ivf_index_paths, heal_ivf_index),
            (bm25_index_paths, heal_bm25_index),
        ):
            for p in paths or []:
                for sub, action in heal(self.spark, p).items():
                    out[f"{p}/{sub} (index compaction)"] = action
        for p in bloom_paths or []:
            action = heal_bloom(self.spark, p)
            if action:
                out[f"{p} (bloom append)"] = action
        return out

    def analyze_tables(self, with_columns: bool = False) -> list[str]:
        """Maintenance: compute catalog statistics (row counts / sizes,
        optionally per-column NDV+min/max) for every DV table so Spark's
        cost-based optimizer can pick broadcast sides and join orders from
        real numbers instead of file-size guesses. On a lake deployment
        this is the ANALYZE step a scheduler runs after each bulk load.
        Returns the analyzed table FQNs."""
        analyzed = []
        for t in self.spark.catalog.listTables(self.dv_db):
            fqn = f"{self.dv_db}.{t.name}"
            # listTables also returns session temp views (tableType
            # 'TEMPORARY'); ANALYZE on those raises and would abort the
            # whole maintenance pass — only real tables are analyzable
            if t.isTemporary or t.tableType not in ("MANAGED", "EXTERNAL"):
                continue
            suffix = " FOR ALL COLUMNS" if with_columns else ""
            self.spark.sql(
                f"ANALYZE TABLE {fqn} COMPUTE STATISTICS{suffix}"
            )
            analyzed.append(fqn)
        return analyzed

    def prune_sat_history(
        self, sat_table: str, keep_versions: int = 1, **kwargs
    ) -> dict:
        """Maintenance: bound a satellite's SCD2 history to the newest
        ``keep_versions`` rows per hash key (current views and tombstone
        state are invariant — see ``operators/retention.py``)."""
        from mallarddv_spark.operators.retention import prune_sat_history

        return prune_sat_history(
            self.spark, f"{self.dv_db}.{sat_table}", keep_versions, **kwargs
        )

    def rollback_run(self, run_id: int) -> dict[str, int]:
        """Explicitly roll back one run's rows (e.g. a flow that *failed*
        and whose partial state — kept by default, reference behavior —
        should be undone)."""
        from mallarddv_spark.flow.recovery import rollback_runs

        return rollback_runs(self.spark, self.metadata_db, self.dv_db, [run_id])

    # -- raw SQL passthrough ------------------------------------------------

    def sql(self, query: str, args: dict | list | None = None) -> DataFrame:
        """Full Spark SQL surface over the vault (reference ``mallarddv.py:87-98``
        routed user SQL to DuckDB; here the dialect is Spark SQL).

        ``args`` may be a dict (named ``:param`` markers) or, matching the
        reference's positional convention
        (``db/database_connection.py:78-95``), a list bound to ``?`` markers.
        Failures raise :class:`DVSQLError` carrying the offending statement,
        like the reference's ``execute_sql_safely``.
        """
        from mallarddv_spark.exceptions import DVSQLError

        try:
            if args:
                return self.spark.sql(query, args=args)
            return self.spark.sql(query)
        except Exception as ex:
            raise DVSQLError("Error in user SQL execution", query, ex) from ex
